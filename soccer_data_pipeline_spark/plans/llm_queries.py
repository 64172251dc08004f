"""[beyond-ref] LLM training-data-pipeline operators (SURVEY.md §2.10).

Mandated by BASELINE.json beyond the reference's surface: dedup,
similarity search, text analysis, event-time windows — each designed
for 100 TB scale:

- Near-dup candidate generation is *blocked* (lang / LSH band keys) so
  the pair space is bucket-local, never a global cross join.
- All token/shingle work uses built-in JVM functions (split, explode,
  md5) — no Python in the hot path.
- Cosine math uses ``F.aggregate``/``F.zip_with`` (sequential, exact
  order) and rounds to 6 decimals so results are engine-comparable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine, dot
from ..sources import load_table
from .registry import register

def _cents(col):
    """2-decimal double → exact integer cents (same bits in Spark/DuckDB)."""
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# Event-time windows over the events table (tumbling) — the streaming-shaped
# aggregation surface (SURVEY §2.10); batch form uses date_trunc so the
# DuckDB oracle is exact. The streaming twin lives in streaming/windows.py.
# ---------------------------------------------------------------------------


@register(
    "event_tumbling_hourly",
    oracle="""
SELECT EPOCH_US(DATE_TRUNC('hour', ts)) AS window_start_us, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
    doc="[beyond-ref] tumbling event-time window aggregation (SURVEY §2.10)",
)
def event_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(_cents(F.col("value"))) / F.lit(100.0)).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions via lag + cumulative flag (batch form;
# pyspark_guide "Sessionization" pattern). 30-minute inactivity gap.
# ---------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
       EPOCH_US(MIN(ts)) AS session_start_us,
       EPOCH_US(MAX(ts)) AS session_end_us,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS session_value
FROM sessions
GROUP BY user_id, session_seq
""",
    doc="[beyond-ref] sessionization via lag+cumsum gap detection, 30m gap (SURVEY §2.10)",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Microsecond-exact gap test so the oracle's INTERVAL comparison matches.
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_seq", F.sum("new_session").over(wc))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            (F.sum(_cents(F.col("value"))) / F.lit(100.0)).alias("session_value"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis: token counting, quality scoring (length / stopword ratio),
# all JVM-side string functions — no UDFs.
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle="""
SELECT doc_id, lang,
  LENGTH(text) AS n_chars_actual,
  LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens,
  LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))) AS n_unique_tokens,
  CAST(LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))) AS DOUBLE)
    / NULLIF(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')), 0) AS ttr,
  LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the','a'))) AS n_stopwords
FROM documents
""",
    doc="[beyond-ref] text analysis: token counts, type-token ratio, stopword count (SURVEY §2.10)",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tokens.cast("long").alias("n_tokens"),
        n_unique.cast("long").alias("n_unique_tokens"),
        (n_unique.cast("double") / F.nullif(n_tokens, F.lit(0))).alias("ttr"),
        n_stop.cast("long").alias("n_stopwords"),
    )


@register(
    "quality_score",
    oracle="""
WITH s AS (
  SELECT doc_id,
    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens,
    LENGTH(text) AS n_chars_actual,
    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the','a'))) AS n_stop
  FROM documents
)
SELECT doc_id,
  CASE WHEN n_tokens >= 50 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) / 50 END AS length_score,
  CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0) AS stopword_ratio,
  CASE WHEN n_tokens >= 20
        AND CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0) BETWEEN 0.01 AND 0.5
       THEN TRUE ELSE FALSE END AS passes_quality
FROM s
""",
    doc="[beyond-ref] heuristic document quality scoring (SURVEY §2.10)",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0))
    return docs.select(
        "doc_id",
        F.when(n_tokens >= 50, F.lit(1.0))
        .otherwise(n_tokens.cast("double") / 50)
        .alias("length_score"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n_tokens >= 20) & (stop_ratio >= 0.01) & (stop_ratio <= 0.5)
        ).alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Language ID: marker-token voting (n-gram heuristic). Token-join against a
# tiny broadcast marker table; argmax by count with deterministic tie-break.
# ---------------------------------------------------------------------------

_LANG_MARKERS = [
    ("the", "en"), ("a", "en"), ("of", "en"),
    ("le", "fr"), ("la", "fr"), ("et", "fr"),
    ("der", "de"), ("die", "de"), ("und", "de"),
    ("el", "es"), ("los", "es"), ("y", "es"),
    ("de", "zh"), ("shi", "zh"), ("bu", "zh"),
]

_MARKER_VALUES = ", ".join(f"('{t}', '{l}')" for t, l in _LANG_MARKERS)


@register(
    "lang_id_heuristic",
    oracle=f"""
WITH markers(token, marker_lang) AS (VALUES {_MARKER_VALUES}),
tokens AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
votes AS (
  SELECT t.doc_id, m.marker_lang, COUNT(*) AS n_hits
  FROM tokens t JOIN markers m ON t.token = m.token
  GROUP BY t.doc_id, m.marker_lang
)
SELECT doc_id, marker_lang AS predicted_lang, n_hits
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, marker_lang) AS rn
  FROM votes
)
WHERE rn = 1
""",
    doc="[beyond-ref] language ID via marker-token voting, broadcast join (SURVEY §2.10)",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(_LANG_MARKERS, ["token", "marker_lang"])
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    votes = (
        tokens.join(F.broadcast(markers), "token")
        .groupBy("doc_id", "marker_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("marker_lang"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("marker_lang").alias("predicted_lang"), "n_hits")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: content hash + normalized-prefix/suffix hashes
# (rolling-hash-style locality signature, md5-based so both engines agree).
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
  MD5(text) AS content_hash,
  MD5(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS normalized_hash,
  MD5(SUBSTRING(text, 1, 64)) AS prefix_hash,
  SUBSTRING(MD5(text), 1, 8) AS short_fp
FROM documents
""",
    doc="[beyond-ref] document fingerprinting: content/normalized/prefix hashes (SURVEY §2.10)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = lambda c: F.md5(c.cast("binary"))  # noqa: E731
    return docs.select(
        "doc_id",
        h(F.col("text")).alias("content_hash"),
        h(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("normalized_hash"),
        h(F.substring("text", 1, 64)).alias("prefix_hash"),
        F.substring(h(F.col("text")), 1, 8).alias("short_fp"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: token-level 3-gram shingles, blocked by lang,
# pair similarity via shingle co-count — a shuffle-local band join, not a
# cross join; the same skeleton the MinHash-LSH variant uses at scale.
# Shingles with document frequency > _MAX_SHINGLE_DF are dropped BEFORE the
# pair join (both engines): a boilerplate trigram in 10⁶ docs would emit
# ~10¹² pairs on one join key while carrying no near-dup signal. Jaccard is
# then computed over the DF-filtered shingle space (numerator AND
# denominator), the standard web-scale formulation.
# ---------------------------------------------------------------------------

_MAX_SHINGLE_DF = 100


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM documents
),
all_shingles AS (
  SELECT DISTINCT doc_id, lang,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 2)) AS t(i)
  WHERE LEN(toks) >= 3
),
shingles AS (
  SELECT s.* FROM all_shingles s
  JOIN (SELECT lang, shingle FROM all_shingles
        GROUP BY lang, shingle HAVING COUNT(*) <= {_MAX_SHINGLE_DF}) d
    ON s.lang = d.lang AND s.shingle = d.shingle
),
counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_common, ca.n_shingles AS n_a, cb.n_shingles AS n_b,
       CAST(p.n_common AS DOUBLE) / (ca.n_shingles + cb.n_shingles - p.n_common) AS jaccard
FROM pairs p
JOIN counts ca ON p.doc_a = ca.doc_id
JOIN counts cb ON p.doc_b = cb.doc_id
WHERE CAST(p.n_common AS DOUBLE) / (ca.n_shingles + cb.n_shingles - p.n_common) >= 0.2
""",
    doc="[beyond-ref] n-gram Jaccard near-dup pairs, lang-blocked shingle join (SURVEY §2.10)",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard(
        docs, n=3, block_col="lang", threshold=0.2, max_df=_MAX_SHINGLE_DF
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (the exact baseline; the
# LSH-bucketed ANN variant lives in operators/similarity.py). Query set =
# vec_id < 10; dot products via zip_with + aggregate — sequential fold, so
# rounding to 6 decimals is engine-stable.
# ---------------------------------------------------------------------------


def _exact_topk_sql(c_where: str = "vec_id >= 10") -> str:
    """The exact cosine top-5 oracle CTE (``topk``): queries vec_id < 10
    against the candidates selected by ``c_where``."""
    return f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE {c_where}),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         ROUND(LIST_DOT_PRODUCT(q.v, c.v) /
               (SQRT(LIST_DOT_PRODUCT(q.v, q.v)) * SQRT(LIST_DOT_PRODUCT(c.v, c.v))), 6) AS cosine
  FROM q CROSS JOIN c
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rn
    FROM sims
  ) WHERE rn <= 5
)
"""


_EXACT_TOPK_SQL = _exact_topk_sql()


@register(
    "embedding_topk_cosine",
    oracle=_EXACT_TOPK_SQL + "SELECT query_id, candidate_id, cosine, rn FROM topk\n",
    doc="[beyond-ref] brute-force cosine top-k similarity search baseline (SURVEY §2.10)",
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("v"),
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv")
    )
    # Broadcast the small QUERY side; candidates stay distributed — at 100 TB
    # the candidate set is the big table and must never be collected/broadcast.
    sims = c.join(F.broadcast(q), how="cross").select(
        "query_id",
        "candidate_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("query_id", "candidate_id", "cosine", "rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup dedup (operators/dedup.py). The oracles are
# GENERATED SQL reproducing the same seeded-md5 48-bit hash scheme, so even
# the LSH pipeline is differentially checked against DuckDB.
# ---------------------------------------------------------------------------

_K = 16
_BANDS = 4
_RPB = _K // _BANDS


def _duck_h48(expr: str) -> str:
    return f"CAST('0x' || SUBSTRING(md5({expr}), 1, 12) AS BIGINT)"


_SHINGLE_CTE = """
toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 2)) AS t(i)
  WHERE LEN(toks) >= 3
)"""

# Double hashing: one md5 per shingle, two 48-bit halves, family i =
# h1 + i*h2 (must mirror operators/dedup.minhash_signatures exactly).
_SIG_SELECT = ",\n  ".join(
    f"MIN(CAST('0x' || SUBSTRING(md5(shingle), 1, 12) AS BIGINT)"
    f" + {i} * CAST('0x' || SUBSTRING(md5(shingle), 13, 12) AS BIGINT)) AS h{i}"
    for i in range(_K)
)

_MINHASH_SIG_ORACLE = f"""
WITH {_SHINGLE_CTE}
SELECT doc_id,
  {_SIG_SELECT}
FROM shingles GROUP BY doc_id
"""


@register(
    "dedup_minhash_signatures",
    oracle=_MINHASH_SIG_ORACLE,
    doc="[beyond-ref] MinHash signatures (k=16, seeded-md5 48-bit) per document (SURVEY §2.10)",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures, shingles as mk_shingles

    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(mk_shingles(docs, n=3), k=_K)


_BAND_SELECTS = "\n  UNION ALL\n  ".join(
    "SELECT doc_id, {b} AS band_id, md5(CONCAT_WS(',', {cols})) AS band_key FROM sig".format(
        b=b, cols=", ".join(f"h{b * _RPB + j}" for j in range(_RPB))
    )
    for b in range(_BANDS)
)

# Hot-bucket cap (mirrors lsh_candidate_pairs max_bucket_size): buckets
# with more than _MAX_BUCKET docs are dropped before the pair join.
_MAX_BUCKET = 50

# CTE chain + final select split out so the connected-components oracle
# can reuse the whole pair pipeline as its edge list.
_MINHASH_PAIRS_CTES = f"""{_SHINGLE_CTE},
sig AS (
  SELECT doc_id, {_SIG_SELECT}
  FROM shingles GROUP BY doc_id
),
banded AS (
  {_BAND_SELECTS}
),
kept AS (
  SELECT b.* FROM banded b
  JOIN (SELECT band_id, band_key FROM banded
        GROUP BY band_id, band_key HAVING COUNT(*) <= {_MAX_BUCKET}) s
    ON b.band_id = s.band_id AND b.band_key = s.band_key
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

_MINHASH_PAIRS_SELECT = """
SELECT c.doc_a, c.doc_b, co.n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
       co.n_common / (ca.n_sh + cb.n_sh - co.n_common) AS jaccard
FROM cand c
JOIN co ON co.doc_a = c.doc_a AND co.doc_b = c.doc_b
JOIN counts ca ON ca.doc_id = c.doc_a
JOIN counts cb ON cb.doc_id = c.doc_b
WHERE co.n_common / (ca.n_sh + cb.n_sh - co.n_common) >= 0.5
"""

_MINHASH_PAIRS_ORACLE = f"WITH {_MINHASH_PAIRS_CTES}\n{_MINHASH_PAIRS_SELECT}"


@register(
    "dedup_minhash_lsh_pairs",
    oracle=_MINHASH_PAIRS_ORACLE,
    doc="[beyond-ref] MinHash-LSH near-dup: band bucket join (hot-bucket capped) -> exact Jaccard verify (SURVEY §2.10)",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs, n=3, k=_K, bands=_BANDS, threshold=0.5, max_bucket_size=_MAX_BUCKET
    )


@register(
    "dedup_incremental_pairs",
    oracle=f"WITH {_MINHASH_PAIRS_CTES}\n"
    + _MINHASH_PAIRS_SELECT.rstrip()
    + "\n  AND (c.doc_a % 5 = 0 OR c.doc_b % 5 = 0)\n",
    doc=(
        "[beyond-ref] incremental MinHash-LSH dedup: verified near-dup "
        "pairs touching the NEW batch (doc_id % 5 = 0 stands in for it) "
        "— new-vs-new and new-vs-existing only, the daily-crawl shape "
        "(SURVEY §2.10)"
    ),
)
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: the band join is new-side × full-side, so
    at 100 TB candidate cost scales with the batch (existing signatures
    load from the prior run's signature store), and existing-vs-existing
    pairs — already resolved — are never regenerated. The oracle is the
    full pair pipeline restricted to pairs touching the batch, which is
    definitionally the incremental output."""
    from ..operators.dedup import minhash_incremental_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_incremental_pairs(
        docs,
        F.col("doc_id") % 5 == 0,
        n=3,
        k=_K,
        bands=_BANDS,
        threshold=0.5,
        max_bucket_size=_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over the near-dup pair graph
# (operators/graph.py — iterative min-label propagation on Spark). The
# oracle computes TRUE components via a recursive transitive-closure CTE
# over the same generated pair pipeline, so the iterative distributed
# algorithm is differentially checked against an exact reference.
# ---------------------------------------------------------------------------


@register(
    "dedup_connected_clusters",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
),
labels AS (
  SELECT n.u AS doc_id, LEAST(n.u, MIN(r.v)) AS cluster_id
  FROM (SELECT DISTINCT u FROM und) n JOIN reach r ON r.u = n.u
  GROUP BY n.u
)
SELECT l.doc_id, l.cluster_id, CAST(s.cs AS BIGINT) AS cluster_size,
       l.doc_id = l.cluster_id AS is_keeper
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cs FROM labels GROUP BY cluster_id) s
  ON s.cluster_id = l.cluster_id
""",
    doc="[beyond-ref] dedup cluster consolidation: connected components (min-label propagation) over MinHash-LSH near-dup pairs (SURVEY §2.10)",
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.graph import dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, n=3, k=_K, bands=_BANDS, threshold=0.5, max_bucket_size=_MAX_BUCKET
    )
    return dup_clusters(pairs)


_SIMHASH_BITS = 16

_VOTE_SELECT = ",\n  ".join(
    f"SUM(((hv >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(_SIMHASH_BITS)
)
_FP_EXPR = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
)

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
hv AS (
  SELECT doc_id, {_duck_h48('token')} AS hv FROM tok WHERE token <> ''
),
sums AS (
  SELECT doc_id,
  {_VOTE_SELECT}
  FROM hv GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({_FP_EXPR} AS BIGINT) AS simhash FROM sums)
SELECT simhash, COUNT(*) AS group_size, MIN(doc_id) AS keeper_doc_id
FROM fp GROUP BY simhash HAVING COUNT(*) > 1
"""


@register(
    "dedup_simhash_groups",
    oracle=_SIMHASH_ORACLE,
    doc="[beyond-ref] SimHash fingerprint dup groups (16-bit, token-vote) (SURVEY §2.10)",
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    return simhash_dup_groups(docs, bits=_SIMHASH_BITS)


# ---------------------------------------------------------------------------
# Embedding near-dup with an in-plan LSH recall gate (VERDICT r2 #3).
# The production path at 100 TB is operators/similarity.near_dup_pairs_banded
# — banded sign-LSH blocking on (label, band, code), pair space bounded by
# bucket size, not label size. This query emits the exact label-blocked pair
# list (hash-checked cell by cell) PLUS a `lsh_recall_ok` gate column
# asserting the banded path recovered >= _NEAR_DUP_RECALL_FLOOR of those
# pairs. The oracle recomputes the exact side and expects TRUE — if an LSH
# config change drops recall below the floor, Spark emits FALSE and the
# driver hash check fails.
#
# Threshold provenance (ADVICE r2: document margins so a flip is diagnosable
# as tuning drift, not an engine bug): measured recall of the default
# 36-plane/3-bit-band config on the driver corpus, deterministic per
# (seed=42, corpus): 1.0 @sf0.001 (14/14), 1.0 @sf0.01 (26/26),
# 0.9668 @sf0.1 (378/391). Floor 0.8 → margins +0.2/+0.2/+0.167.
# Retune procedure if the margin ever thins again (r6, was 24 planes /
# 0.882 @sf0.1): add bands in multiples of band_width — recall theory at
# the 0.35-cosine threshold is 1-(1-p^w)^b with p = 1-acos(s)/pi ≈ 0.614,
# so each extra 3-bit band multiplies the miss rate by (1-p^3) ≈ 0.768 —
# then re-measure all three sfs with the script in the r6 commit.
# Corpus is near-uniform random 64-d (max pair cosine ~0.47), the LSH
# worst case; real near-dup corpora (cosine >= 0.9 pairs) sit far above
# the floor at this config.
# ---------------------------------------------------------------------------

_NEAR_DUP_RECALL_FLOOR = 0.8


@register(
    "embedding_near_dup",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
             (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine,
       TRUE AS lsh_recall_ok
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
            (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) >= 0.35
""",
    doc=(
        "[beyond-ref] embedding near-dup pairs, cosine >= 0.35, with in-plan "
        "banded-sign-LSH recall gate (floor 0.8; measured 1.0/1.0/0.9668 at "
        "sf0.001/0.01/0.1) — production path is bucket-bounded "
        "near_dup_pairs_banded (SURVEY §2.10)"
    ),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import banded_candidate_pairs

    # Precompute each row's norm BEFORE the pair join: sqrt(dot(v,v)) on
    # the same operands is bit-identical wherever it's evaluated, so the
    # oracle's per-pair formula still matches exactly — but the join now
    # does 1 dot product per pair instead of 3.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double_array(F.col("embedding")).alias("v"),
    )
    emb = emb.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    # the label self-join broadcasts the (tiny) build side, so the
    # per-pair interpreted cosine runs in the STREAM side's stage —
    # straight off a single-row-group scan that would serialize it on
    # 1-4 tasks (r15 profile: 3 s on 4 tasks; spread → 0.6-0.9 s)
    from ..operators.skew import spread_for_compute

    a = spread_for_compute(emb).alias("a")
    b = emb.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")),
        6,
    )
    exact = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
    )
    # The gate only intersects on pair IDS: an exact pair that appears in
    # the LSH candidate set always survives the LSH path's own cosine
    # verify (same operands, same >= 0.35 threshold — it IS an exact
    # pair), so recall computed on candidates equals recall on verified
    # pairs, and the LSH side skips every per-pair dot product.
    lsh = banded_candidate_pairs(load_table(spark, sf_dir, "embeddings")).select(
        "vec_a", "vec_b", F.lit(1).alias("hit")
    )
    marked = exact.join(lsh, ["vec_a", "vec_b"], "left").withColumn(
        "hit", F.coalesce(F.col("hit"), F.lit(0))
    )
    # recall as an unpartitioned window over the pair list — the near-dup
    # OUTPUT is small by construction (it's the dup report), so one global
    # window partition over it is fine at any corpus scale.
    w_all = Window.partitionBy()
    recall = F.sum("hit").over(w_all) / F.count("*").over(w_all)
    return marked.select(
        "vec_a",
        "vec_b",
        "label",
        "cosine",
        (recall >= _NEAR_DUP_RECALL_FLOOR).alias("lsh_recall_ok"),
    )


@register(
    "embedding_incremental_near_dup",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
             (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine,
       TRUE AS lsh_recall_ok
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
            (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) >= 0.35
  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
""",
    doc=(
        "[beyond-ref] incremental embedding near-dup: batch-vs-corpus "
        "pairs (vec_id % 5 = 0 stands in for the new batch) with the "
        "incremental banded-LSH recall gate — the embedding twin of "
        "dedup_incremental_pairs (SURVEY §2.10)"
    ),
)
def embedding_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus embedding dedup. The exact side is already
    incremental-shaped — new × all within label blocks, |batch|·|block|
    pairs, not |block|² — and the gate asserts the production path
    (``banded_incremental_candidates``: band join new-side × full-side,
    existing band codes loadable from the sketch store) recovers
    >= _BANDED_RECALL_FLOOR of them. Measured gate recall at the
    36-plane default, deterministic per (seed=42, corpus): 1.0
    @sf0.001 (6 pairs), 1.0 @sf0.01 (10), 0.9496 @sf0.1 (132/139) —
    floor 0.8, margins >= 0.149 everywhere (retune procedure at the
    embedding_near_dup provenance block)."""
    from ..operators.similarity import banded_incremental_candidates

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        as_double_array(F.col("embedding")).alias("v"),
    )
    base = base.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    new_side = base.where(F.col("vec_id") % 5 == 0).alias("a")
    full_side = base.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    exact = (
        new_side.join(
            full_side,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            F.col("a.label").alias("label"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
        .dropDuplicates(["vec_a", "vec_b"])
    )
    new_ids = emb.where(F.col("vec_id") % 5 == 0).select("vec_id")
    lsh = banded_incremental_candidates(emb, new_ids).select(
        "vec_a", "vec_b", F.lit(1).alias("hit")
    )
    marked = exact.join(lsh, ["vec_a", "vec_b"], "left").withColumn(
        "hit", F.coalesce(F.col("hit"), F.lit(0))
    )
    w_all = Window.partitionBy()
    recall = F.sum("hit").over(w_all) / F.count("*").over(w_all)
    return marked.select(
        "vec_a",
        "vec_b",
        "label",
        "cosine",
        (recall >= _BANDED_RECALL_FLOOR).alias("lsh_recall_ok"),
    )


# ---------------------------------------------------------------------------
# Banded-only near-dup window variant (VERDICT r4 #4): the in-window form
# above pays an O(label²) exact join over EVERY label block because its
# oracle must recompute the full exact pair list. This variant keeps hash-
# verifiability while bounding the exact side to a deterministic AUDIT
# SAMPLE of label blocks (label % 4 = 0 → 3 of the 10 corpus labels),
# row-strided to a fixed audit budget (see _BANDED_AUDIT_ROW_BUDGET): the
# production banded path runs over the FULL corpus (linear in corpus size —
# the ids-only recall join cannot prune it, there is no label predicate
# linking the two sides), and the quadratic exact join shrinks to the
# budgeted sample, so the audit cost stays FLAT at any corpus size while
# the hot path stays linear.
#
# Threshold provenance (same discipline as above): measured full-corpus
# banded recall on the SAMPLED blocks, deterministic per (seed=42, corpus):
# 1.0 @sf0.001 (5 exact pairs), 1.0 @sf0.01 (9), 0.9583 @sf0.1 (115/120)
# at the 36-plane default (r6 retune: the 24-plane config measured
# 0.8667 @sf0.1, a +0.067 margin — one band-hash perturbation from a
# driver-visible flip; VERDICT r5 #4). Floor 0.8 → margins
# +0.2/+0.2/+0.158, all >= 0.1. Retune procedure documented at the
# full-corpus variant's provenance block above.
# ---------------------------------------------------------------------------

_BANDED_RECALL_FLOOR = 0.8

# Audit sampling: the exact O(audit²) recall audit runs on labels
# ≡ 0 (mod _BANDED_AUDIT_MOD), further row-subsampled by
# vec_id % stride = 0 where stride = max(1, ceil(n_rows / ROW_BUDGET)).
# Label cardinality is FIXED (10) at every sf, so a label modulus alone
# cannot bound the audit: the r8 sf1 rehearsal (BENCH_NOTES.md issue 1)
# measured the audit side going 24× for 10× data with only the pinned
# `% 4` — blocks grew linearly and the quadratic exact join grew ~100×.
# The vec_id stride is the budget knob (VERDICT r8 #1): audit rows stay
# ≈ ROW_BUDGET·(|sampled labels|/|labels|) at ANY corpus size, so the
# audit cost is FLAT while the production banded path stays linear.
# ROW_BUDGET = 2000 makes stride exactly 1 at every driver sf
# (500/500/2000 rows → driver hashes unchanged) and 10 at the sf1
# rehearsal (20000 rows → same audit row count as sf0.1). The stride is
# derived IN-PLAN (1-row broadcast agg) and by the SAME expression in
# the DuckDB oracle's scalar subquery, so the differential stays exact.
_BANDED_AUDIT_MOD = 4
_BANDED_AUDIT_ROW_BUDGET = 2000


@register(
    "embedding_near_dup_banded",
    oracle=f"""
WITH st AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {_BANDED_AUDIT_ROW_BUDGET}.0) AS BIGINT)) AS s
            FROM embeddings),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings, st
      WHERE label % {_BANDED_AUDIT_MOD} = 0 AND vec_id % st.s = 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
             (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS cosine,
       TRUE AS lsh_recall_ok
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
            (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) >= 0.35
""",
    doc=(
        "[beyond-ref] embedding near-dup via the production banded path over "
        "the full corpus, recall-gated against an exact audit sample "
        "(label % 4 = 0 blocks, row-strided to a fixed audit budget) — the "
        "100 TB-shaped window form of embedding_near_dup (SURVEY §2.10)"
    ),
)
def embedding_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import banded_candidate_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # audit-row budget → vec_id stride, derived in-plan (1-row broadcast;
    # one column-pruned count scan) — never a pinned constant, so the
    # exact-audit cost stays flat at any corpus size (provenance at
    # _BANDED_AUDIT_ROW_BUDGET above)
    stride = emb.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.count("*") / float(_BANDED_AUDIT_ROW_BUDGET)).cast("long"),
        ).alias("_stride")
    )
    sampled = (
        emb.crossJoin(F.broadcast(stride))
        .where(
            (F.col("label") % _BANDED_AUDIT_MOD == 0)
            & (F.col("vec_id") % F.col("_stride") == 0)
        )
        .select(
            "vec_id",
            "label",
            as_double_array(F.col("embedding")).alias("v"),
        )
    )
    sampled = sampled.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = sampled.alias("a")
    b = sampled.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    exact = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
    )
    # Banded config ladder (VERDICT r9 #7) — measured frontier, r10, via
    # tools/tune_banded.py (recall = exact-audit-pairs found in the
    # banded candidate set; ANN_TUNE_r10.json records the full table):
    #   n=2000 (sf0.1): (36,3) recall 0.9583, 1.72 s; every wider config
    #     fails or grazes the 0.8 floor on this marginal-pair regime
    #     (p40w4 0.79, p40w5 0.49) — and (36,3) keeps the measured
    #     driver-sf provenance unchanged (1.0 / 1.0 / 0.9583).
    #   n=20000 (sf1): replica-densified buckets make EVERY config read
    #     recall >= 0.9559 (true near-dups collide in some band at any
    #     width), so the widest measured rung wins on cost: (40,5) =
    #     4.71 s vs (36,3) 15.43 s for the same 0.9559 recall — the
    #     r9 6.18x scaler was exactly these linearly-growing 8-code
    #     buckets; (40,4) = 8.45 s at 0.9559 is the conservative
    #     fallback rung if a corpus needs narrower bands.
    # Caveat (same as the bitext ladder): a NEW corpus tier needs a
    # measured retune via the tool, not extrapolation — the in-plan
    # recall gate below turns a mis-sized config into a loud FALSE, not
    # silent candidate loss. The plan STRUCTURE (plane constants in the
    # band codes) depends on the config, so like bitext's n_en it cannot
    # ride in-plan: construction runs one narrow column-pruned count.
    n_rows = emb.count()
    bp, bw = (36, 3) if n_rows < 8192 else (40, 5)

    # full-corpus banded candidates; ids-only intersection (an exact pair
    # in the candidate set always survives the downstream cosine verify —
    # same operands, same threshold — so candidate recall == verified
    # recall and the LSH side skips every dot product)
    lsh = banded_candidate_pairs(emb, n_planes=bp, band_width=bw).select(
        "vec_a", "vec_b", F.lit(1).alias("hit")
    )
    marked = exact.join(lsh, ["vec_a", "vec_b"], "left").withColumn(
        "hit", F.coalesce(F.col("hit"), F.lit(0))
    )
    w_all = Window.partitionBy()
    recall = F.sum("hit").over(w_all) / F.count("*").over(w_all)
    return marked.select(
        "vec_a",
        "vec_b",
        "label",
        "cosine",
        (recall >= _BANDED_RECALL_FLOOR).alias("lsh_recall_ok"),
    )


# ---------------------------------------------------------------------------
# ANN similarity, driver-verifiable (VERDICT r1 #2): instead of a rows-only
# ANN query, run ANN *and* the exact brute-force baseline in one plan, join
# them, and emit recall aggregates. The oracle recomputes the exact side
# (SQL-expressible) and asserts recall_ok literally TRUE — if the seeded ANN
# ever drops below the floor, Spark emits FALSE and the driver's hash check
# fails. Thresholds are set from measured recall on this corpus (near-
# uniform random 64-d vectors — the ANN worst case, where recall tracks the
# probed fraction of bucket space): LSH p=6/radius=3 gives macro recall
# 0.80 @sf0.001, 0.92 @sf0.01, 0.84 @sf0.1 — floor 0.75, margins
# +0.05/+0.17/+0.09 (deterministic per seed+corpus; a flip on a NEW
# corpus/sf means re-tune n_planes/radius, not an engine bug).
# ---------------------------------------------------------------------------

# The ANN family's one run cache: BUILD-TIME configuration a session
# reuses, never a query result — fitted quantizers and codebooks (pure
# Python grid ints, session-independent), probe-ladder rungs, and
# persisted build dirs. Keyed (family, sf_dir, *config); the key space
# is one entry per family per sf, so it needs no bound. (Star-table
# schemas have their own catalog, ``sources.parquet_source._SCHEMAS``:
# metadata only, never a plan or a row.)
_RUNS: dict = {}


def _probe_small(sf_dir: str, c: DataFrame) -> bool:
    """The probe-ladder rung: candidate corpus < 1024 rows. Production
    stamps n_probe next to the persisted quantizers (an index-config
    property of the corpus), so it caches as build config; uncached,
    every serving query paid a corpus count job per timed run (~0.2 s ×
    6 queries of pure scheduling at sf0.1)."""
    key = ("probe_small", sf_dir)
    if key not in _RUNS:
        _RUNS[key] = bool(c.count() < 1024)
    return _RUNS[key]


def _build_dir_once(key, build, *required):
    """``(out_dir, payload)`` of a persisted build, run once per key:
    repeat calls serve from the same artifacts (the production
    build-once/serve-many contract).

    ``build(out_dir)`` fills a fresh temp dir and returns the payload. A
    cached dir missing any ``required`` subdir (e.g. its tombstones were
    removed) is deleted and rebuilt, never served. Each dir is removed
    at interpreter exit."""
    hit = _RUNS.get(key)
    if hit is not None:
        if all(os.path.isdir(os.path.join(hit[0], r)) for r in required):
            return hit
        shutil.rmtree(hit[0], ignore_errors=True)
    out_dir = tempfile.mkdtemp(prefix=f"spark_graft_{key[0]}_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    _RUNS[key] = hit = (out_dir, build(out_dir))
    return hit


def _served_ann_index(c: DataFrame, sf_dir: str):
    """``(out_dir, AnnIndexBuild)`` of the served index, built once per sf
    under the ``("ann_index", sf_dir)`` key. Config: 16 cells / m=16 / 16
    codes / residual / seed 42 — ``similarity_ivfpq_residual``'s, so its
    recall carries over."""
    from ..index_pipeline import run_ann_index_build

    return _build_dir_once(
        ("ann_index", sf_dir),
        lambda d: run_ann_index_build(
            c, d, n_centroids=16, m=16, n_codes=16, residual=True, seed=42
        ),
        "index",
    )


def _fork_ann_index(c: DataFrame, sf_dir: str, out_dir: str) -> None:
    """Fill ``out_dir`` with a copy of the served index, for a query that
    mutates its own. The build is byte-deterministic per (corpus,
    config), so the copy equals a rebuild and costs no Spark job."""
    shutil.copytree(_served_ann_index(c, sf_dir)[0], out_dir, dirs_exist_ok=True)


def _ann_sides(spark: SparkSession, sf_dir: str):
    """(queries, candidates): vec_id < 10 against the rest."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") < 10), emb.where(F.col("vec_id") >= 10)


def _hits(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """exact top-k LEFT JOIN approx top-k on (query_id, candidate_id),
    with a 0/1 ``hit`` flag per exact row."""
    return exact.join(
        approx.select("query_id", "candidate_id").withColumn("hit", F.lit(1)),
        ["query_id", "candidate_id"],
        "left",
    ).withColumn("hit", F.coalesce(F.col("hit"), F.lit(0)))


def _recall_per_query(j: DataFrame, floor: float = 0.8) -> DataFrame:
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        (F.sum("hit") >= floor * F.count("*")).alias("recall_ok"),
    )


def _ann_recall_frame(spark, sf_dir, approx_fn):
    """Hit flags of ``approx_fn(q, c)`` against the exact top-5."""
    from ..operators.similarity import brute_force_topk

    q, c = _ann_sides(spark, sf_dir)
    exact = brute_force_topk(q, c, k=5).select("query_id", "candidate_id")
    return _hits(exact, approx_fn(q, c))


def _served_recall(spark, q, c, out_dir, n_probe, exact_c, *legs):
    """Serve top-5 from the persisted index at ``out_dir`` and audit it
    against the exact top-5 over ``exact_c``; returns
    ``(served, per_q, *leg_results)``.

    ``served`` is consumed twice (the recall hits and the caller's
    gate); the plain lazy form re-ran the whole disk search per consumer
    (r15: two full probe→ADC→re-rank executions). It is ≤ |Q|·k rows by
    construction, so persist() computes it once (BlockManager
    getOrElseUpdate dedups the partitions across the InMemoryTableScan
    consumers — guide §5; r15 A/B materialize-once: 0.71× for
    similarity_index_served, 5.9 → 5.1 s for ann_index_deletes).
    persist, not localCheckpoint: InMemoryRelation keeps the child plan,
    so the final plan still SHOWS the persisted-index FileScan,
    PartitionFilters and tombstone anti-join (the disk-serving contract
    stays plan-testable; a checkpoint would hide it behind an opaque
    LogicalRDD).

    r16 (VERDICT r15 #1/#5): the served search, the exact brute-force
    audit and the caller's ``legs`` (thunks: the in-memory twin, the
    balance gates) are independent by data and each ends in a bounded
    list, so they materialize on CONCURRENT driver threads (guide §2.6):
    the served persist fills via one full-column noop scan (keeping the
    FileScan visible), the audit and the legs return ``checkpoint_owned``
    frames, each owning only its own blocks. The returned frames and
    ``served`` (catalog-owned: it outlives this call until ``clearCache``)
    belong to the caller's unit-of-work boundary. Wall cost is
    max(leg), not Σ(legs). Local A/B, min-of-side at
    sf0.1: similarity_index_served 0.76× (three legs incl. the heavy
    in-memory encode); ann_index_rebalance 3.48 → 3.31 s (0.95×);
    ann_index_deletes a tie, 4.11 → 4.16 s — its two legs each saturate
    all 32 cores, so the overlap only recovers driver-side gaps. Kept
    for the structure, which pays once legs stop saturating the cluster
    (the 100 TB shape: bounded query batch, pruned probes).
    """
    from ..index_pipeline import ann_index_search
    from ..operators.cache import checkpoint_owned, run_concurrently
    from ..operators.similarity import brute_force_topk

    served = ann_index_search(
        q, c, out_dir, k=5, shortlist=200, n_probe=n_probe
    ).persist()

    def _serve_leg():
        served.write.format("noop").mode("overwrite").save()

    def _exact_leg():
        return checkpoint_owned(
            brute_force_topk(q, exact_c, k=5).select("query_id", "candidate_id")
        )

    _, exact, *rest = run_concurrently(_serve_leg, _exact_leg, *legs, spark=spark)
    return (served, _recall_per_query(_hits(exact, served)), *rest)


@register(
    "similarity_ann_recall",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM topk
""",
    doc="[beyond-ref] LSH-ANN recall gate vs exact top-k: macro recall >= 0.75 asserted in-plan (SURVEY §2.10)",
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_lsh_cosine

    j = _ann_recall_frame(
        spark,
        sf_dir,
        lambda q, c: ann_lsh_cosine(q, c, k=5, n_planes=6, dim=64, multiprobe=3),
    )
    return j.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
        (F.sum("hit") >= 0.75 * F.count("*")).alias("recall_ok"),
    )


@register(
    "similarity_ivf_recall",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
FROM topk
GROUP BY query_id
""",
    doc="[beyond-ref] IVF-ANN recall gate vs exact top-k: per-query recall >= 0.8 asserted in-plan (SURVEY §2.10)",
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    # n_probe=12: per-query recall 0.8+ at every sf (sf0.1 soak caught
    # n_probe=10 dipping to 0.6 on one query; probing more cells is
    # monotone, so 12 dominates 10 at every sf). r11 trainer swap
    # re-measured: min-per-query 0.80/0.80/0.80, macro 0.94/0.96/0.98
    # at sf0.001/0.01/0.1 — floor met with zero flake risk (the fit is
    # a pure function of corpus+config; naive smallest-id seeding
    # dipped to 0.6, which is why the operator seeds farthest-point).
    #
    # The coarse quantizer is an INDEX-BUILD artifact: fit once per
    # (corpus, config), reused across query calls — the FAISS contract,
    # and what the bench's repeat runs now measure (search cost, not
    # refit cost). r11: the trainer is the deterministic grid-exact
    # Lloyd operator (operators/kmeans.py; on this bounded sample it is
    # the driver-local _fit_local, bit-equal by test to the Spark Lloyd
    # step the kmeans_fixed_assign differential hash-checks), so the
    # model is pure Python data (k×dim grid ints): session-INDEPENDENT,
    # so the cache key needs no applicationId. Across processes the quantizer
    # persists as JSON (``model.save`` / ``DeterministicKMeans.load``,
    # what index_pipeline's artifacts use) — load it instead of refit;
    # this in-process cache is only the warm fast path.
    key = ("ivf", sf_dir, 16, 42)
    prefit = _RUNS.get(key)

    def _ivf(q, c):
        out, _RUNS[key] = ivf_topk(
            q, c, k=5, n_centroids=16, n_probe=12, seed=42, model=prefit
        )
        return out

    return _recall_per_query(_ann_recall_frame(spark, sf_dir, _ivf))


@register(
    "similarity_ivf_incremental",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN candidate_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_new,
       TRUE AS recall_ok, TRUE AS new_recall_ok
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] incremental IVF index maintenance: quantizer fit "
        "on the base corpus only, a new batch indexed via ivf_index "
        "(in-row assign, no refit/rescan) and unioned on; recall >= 0.8 "
        "per query AND >= 0.8 macro over new-batch exact neighbors, "
        "both asserted in-plan (SURVEY §2.10 similarity tier)"
    ),
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tier's incremental twin (VERDICT r10 #8, completing the
    dedup precedent of new-side-only maintenance): the corpus splits
    into a BASE (candidate vec_id % 10 != 7) and a NEW batch
    (% 10 == 7); the deterministic quantizer fits on the base alone,
    the new batch indexes through ``ivf_index`` — one narrow in-row
    pass against the persisted centers, never a refit or a base
    rescan — and search runs over the union of the two index frames.

    Two in-plan gates, both literally TRUE in the oracle so a
    degraded incremental path hard-fails the driver hash:

    - recall_ok: per-query recall >= 0.8 vs exact top-5 over the FULL
      corpus (the same floor as similarity_ivf_recall — indexing the
      new batch incrementally must not cost recall). Measured
      min-per-query 1.0/1.0/0.80 (macro 1.0/1.0/0.96) at
      sf0.001/0.01/0.1 under the probe ladder (all 16 cells below
      1024 candidates, 12 above).
    - new_recall_ok: among exact-top-5 rows that ARE new-batch
      members, ANN hit rate >= 0.8 macro (new vectors must be as
      reachable as old ones — the gate that catches an index whose
      new rows landed in never-probed cells). Measured 5/5, 8/8, 2/2
      hits at the three sfs; vacuously TRUE (no such rows) guards
      the tiny-sf edge.

    The checked rows carry n_exact_new — the per-query count of exact
    neighbors from the new batch (SQL-computable), so the split
    itself is hash-verified, not just gated.
    """
    from ..operators.similarity import ivf_index, ivf_search
    from ..operators.kmeans import fit_deterministic_kmeans

    key = ("ivf_incr", sf_dir, 16, 42)
    prefit = _RUNS.get(key)

    def _incr(q, c):
        base = c.where(F.col("vec_id") % 10 != 7)
        new = c.where(F.col("vec_id") % 10 == 7)
        model = prefit or fit_deterministic_kmeans(
            base, k=16, n_iters=4, sample_rows=256 * 16, seed=42
        )
        _RUNS[key] = model
        index = ivf_index(base, model).unionByName(ivf_index(new, model))
        # probe ladder (the bitext discipline): below 1024 candidates
        # probe ALL 16 cells — near-brute-force is simply correct at
        # small corpora, and a 16-cell quantizer over a few hundred
        # base-fit vectors can strand one query's neighbor in cell 13
        # (measured: q2 recall 0.6 at sf0.001 with n_probe=12); at
        # scale the measured 12/16 config holds (min 0.80 at sf0.1)
        n_probe = 16 if _probe_small(sf_dir, c) else 12
        return ivf_search(q, index, model, k=5, n_probe=n_probe)

    j = _ann_recall_frame(spark, sf_dir, _incr)
    per_q = j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.sum(F.when(F.col("candidate_id") % 10 == 7, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_new"),
        (F.sum("hit") >= 0.8 * F.count("*")).alias("recall_ok"),
    )
    new_gate = (
        j.where(F.col("candidate_id") % 10 == 7)
        .agg(
            F.coalesce(
                F.sum("hit") >= 0.8 * F.count("*"), F.lit(True)
            ).alias("new_recall_ok")
        )
    )
    return per_q.crossJoin(F.broadcast(new_gate))


@register(
    "similarity_ivfpq_recall",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] composed IVF x PQ serving path (FAISS IndexIVFPQ "
        "shape): coarse-route to n_probe cells, ADC scan only inside "
        "probed cells over 8-byte codes, shortlist, exact re-rank; "
        "per-query recall >= 0.8 asserted in-plan (SURVEY §2.10)"
    ),
)
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale path the flat-PQ docstring promised —
    'at 100 TB this composes with IVF (probe cells first, ADC inside
    the probed cells)' — now registered (the bitext/rrf precedent:
    promised paths become operators with gates, not comments).

    operators/similarity.ivfpq_topk: coarse quantizer routes each
    query to its n_probe nearest cells; the ADC scan pays m lookups
    per code ONLY for codes in probed cells (corpus/n_centroids ×
    n_probe rows, 8-byte codes — the scan never touches vectors); the
    exact re-rank reads full vectors for shortlist·|Q| rows only.
    Both quantizers are the deterministic Lloyd trainer (JSON-
    persistable index artifacts, cached like the IVF/PQ singles).

    Gate floor 0.8 vs measured per-query min recall 1.0/1.0/0.80
    (macro 1.0/1.0/0.98) at sf0.001/0.01/0.1 under the probe ladder
    (all 16 cells below 1024 candidates, 12 above) with the measured
    shortlist=200 (50 dipped to 0.4-min — ADC noise needs the same
    re-rank headroom flat PQ uses).
    """
    from ..operators.similarity import ivfpq_topk

    ckey = ("ivfpq_coarse", sf_dir, 16, 42)
    mkey = ("ivfpq_books", sf_dir, 16, 16, 42)
    coarse, models = _RUNS.get(ckey), _RUNS.get(mkey)

    def _ivfpq(q, c):
        n_probe = 16 if _probe_small(sf_dir, c) else 12
        out, _RUNS[ckey], _RUNS[mkey] = ivfpq_topk(
            q,
            c,
            k=5,
            shortlist=200,
            n_centroids=16,
            n_probe=n_probe,
            m=16,
            n_codes=16,
            seed=42,
            coarse=coarse,
            models=models,
        )
        return out

    return _recall_per_query(_ann_recall_frame(spark, sf_dir, _ivfpq))


@register(
    "similarity_ivfpq_residual",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] residual-encoding IVF x PQ (the true FAISS "
        "IndexIVFPQ: PQ codes quantize x - centroid[cell], ADC adds "
        "dot(q, centroid) per probed cell); per-query recall >= 0.8 "
        "asserted in-plan (SURVEY §2.10)"
    ),
)
def similarity_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual-encoded IVF×PQ serving path — what FAISS
    IndexIVFPQ actually stores: PQ codes over the coarse RESIDUAL
    (x − centroid[cell]), so the m·log₂(n_codes)-bit budget spends on
    within-cell detail instead of re-describing the cell itself; ADC
    reconstructs dot(q, chat) = dot(q, centroid[cell]) (a per-probed-
    cell fold over constants, |Q|·n_probe rows) + the usual per-code
    LUT sum. Same index footprint, same plan shape, different (and on
    clustered corpora, tighter) quantization.

    Measured vs the raw-encoded form (identical config, seed=42): at
    shortlist=50 the residual codes lift min-per-query recall 0.4→0.8
    @sf0.001 and 0.6→0.8 @sf0.01 (macro 0.90→0.94, 0.86→0.94); at
    sf0.1 the two encode identically-well (min 0.8, macro 0.98 at the
    registered shortlist=200) because THIS corpus is near-uniform
    random — the coarse centroids sit near the origin, so residual ≈
    raw is the mathematically expected parity, not a bug. On real
    embedding corpora (clustered by construction) the residual form
    is the production default; the registered gate (floor 0.8, same
    as the raw form: margins +0.2/+0.2/+0.0 at the three sfs,
    deterministic per corpus+seed) keeps it honest either way.

    Cached separately from the raw-encoding codebooks: residual
    codebooks only decode residual-encoded indexes.
    """
    from ..operators.similarity import ivfpq_topk

    ckey = ("ivfpq_coarse", sf_dir, 16, 42)
    mkey = ("ivfpq_res_books", sf_dir, 16, 16, 42)
    coarse, models = _RUNS.get(ckey), _RUNS.get(mkey)

    def _ivfpq_res(q, c):
        n_probe = 16 if _probe_small(sf_dir, c) else 12
        out, _RUNS[ckey], _RUNS[mkey] = ivfpq_topk(
            q,
            c,
            k=5,
            shortlist=200,
            n_centroids=16,
            n_probe=n_probe,
            m=16,
            n_codes=16,
            seed=42,
            coarse=coarse,
            models=models,
            residual=True,
        )
        return out

    return _recall_per_query(_ann_recall_frame(spark, sf_dir, _ivfpq_res))


@register(
    "similarity_pq_recall",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
FROM topk
GROUP BY query_id
""",
    doc="[beyond-ref] PQ+rerank recall gate vs exact top-k: per-query recall >= 0.6 asserted in-plan (SURVEY §2.10)",
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization serving path (operators/similarity.pq_topk
    → pq_rerank_topk): candidates compress to 8-byte codes (32× vs
    float32), the ADC scan shortlists 200 per query, and the exact
    re-rank touches only the shortlist. Gate floor 0.6 vs measured
    per-query recall MIN 1.0/1.0/1.0 at sf0.001/0.01/0.1 under the r11
    deterministic codebooks (the farthest-point-seeded Lloyd trainer
    closed the old 0.8-min worst query; a flip on a NEW corpus means
    re-tune m/shortlist, not an engine bug). Codebooks are index-build
    artifacts — r11: pure Python grid ints, session-independent like
    the IVF quantizer, so the cache drops the app_id key and pruning.
    """
    from ..operators.similarity import pq_rerank_topk

    key = ("pq_books", sf_dir, 16, 16, 42)
    prefit = _RUNS.get(key)

    def _pq(q, c):
        out, _RUNS[key] = pq_rerank_topk(
            q, c, k=5, shortlist=200, m=16, n_codes=16, seed=42, models=prefit
        )
        return out

    return _recall_per_query(_ann_recall_frame(spark, sf_dir, _pq), floor=0.6)


@register(
    "similarity_index_served",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS served_matches_memory
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] production ANN serving contract: IVF x PQ search "
        "over the PERSISTED index_pipeline artifacts (parquet codes + "
        "JSON quantizers read from disk), gated in-plan on per-query "
        "recall >= 0.8 AND row-identity with the in-memory index "
        "(SURVEY §2.10 similarity tier)"
    ),
)
def similarity_index_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index serving path as a hard signal (VERDICT r11
    #1): ``run_ann_index_build`` once per (process, corpus) into a
    temp directory, then EVERY search in this plan reads the index
    parquet and the kilobyte JSON quantizers from disk through
    ``ann_index_search`` — the ``_RUNS`` quantizer entries play no
    part. Config matches ``similarity_ivfpq_residual``
    (16 cells / m=16 / 16 codes / residual / seed 42, probe ladder,
    shortlist 200), so the measured recall provenance carries over
    (min-per-query 1.0/1.0/0.80 at sf0.001/0.01/0.1).

    Two in-plan gates, both literally TRUE in the oracle:

    - recall_ok: per-query recall >= 0.8 vs exact top-5 — serving from
      disk must not cost recall vs the hash-checked in-memory forms.
    - served_matches_memory: the disk-served top-5 is ROW-IDENTICAL
      (query, rank) → candidate to a search over an in-memory encode
      under the same quantizers — the round-trip contract
      ``test_index_pipeline`` asserts, now hash-checked by the driver
      at every sf.

    Scale shape: the index is code-sized parquet partitionable by
    cell; search cost is the ivfpq_search shape (probed-cell ADC over
    8-byte codes, shortlist-only exact re-rank); the build runs once
    per corpus and amortizes across queries exactly as in production.
    """
    from ..operators.cache import checkpoint_owned
    from ..operators.similarity import ivfpq_index, ivfpq_search

    q, c = _ann_sides(spark, sf_dir)
    n_probe = 16 if _probe_small(sf_dir, c) else 12
    out_dir, built = _served_ann_index(c, sf_dir)
    coarse, models = built.coarse, built.models

    def _mem_leg():
        return checkpoint_owned(
            ivfpq_search(
                q, ivfpq_index(c, coarse, models, residual=True), c, coarse,
                models, k=5, shortlist=200, n_probe=n_probe, residual=True,
            )
        )

    served, per_q, mem = _served_recall(
        spark, q, c, out_dir, n_probe, c, _mem_leg
    )
    match_gate = (
        served.select("query_id", "rn", F.col("candidate_id").alias("s_cand"))
        .join(
            mem.select("query_id", "rn", F.col("candidate_id").alias("m_cand")),
            ["query_id", "rn"],
            "full_outer",
        )
        .agg(
            (
                F.sum(
                    F.when(F.col("s_cand") == F.col("m_cand"), 1).otherwise(0)
                )
                == F.count("*")
            ).alias("served_matches_memory")
        )
    )
    return per_q.crossJoin(F.broadcast(match_gate))


@register(
    "ann_index_rebalance",
    oracle=_EXACT_TOPK_SQL
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS counts_preserved,
       TRUE AS hot_cell_reduced, TRUE AS quantizer_grew,
       TRUE AS quantizer_remerged
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] ANN index lifecycle as a hard signal: rebalance "
        "the manifest-argmax hot cell (deterministic 2-means split, "
        "bounded to the one cell's partition directory), then MERGE "
        "the two coldest cells back (r14 — the split's inverse, "
        "bounded the same way), and gate in-plan on the balance "
        "record (counts preserved through BOTH rewrites, hot-cell "
        "load strictly reduced, quantizer grew k->k+1 then remerged "
        "to k with the epoch advancing each time) AND per-query "
        "recall >= 0.8 served from the twice-rewritten artifacts "
        "(SURVEY §2.10 similarity tier)"
    ),
)
def ann_index_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle maintenance as a registered differential (VERDICT r12
    #3 — the contract ``index_pipeline.rebalance_cell``'s integration
    test asserts, promoted to driver-hashable rows): fork a copy of the
    ``similarity_index_served`` index (16 cells / m=16 / 16 codes /
    residual / seed 42, built once per corpus), split its hottest cell once
    per (process, corpus), and emit per-query recall rows from the
    rewritten artifacts crossed with three 1-row balance gates, all
    literally TRUE in the oracle:

    - counts_preserved: Σ after == Σ before (no row lost by EITHER
      rewrite — the ADVICE-r12 coverage guard's observable),
    - hot_cell_reduced: the split cell's final load is strictly below
      its pre-rebalance load,
    - quantizer_grew: the post-split config stamped k+1 centroids with
      epoch 1 (recorded at split time),
    - quantizer_remerged (r14): after ``merge_cells`` folds the two
      coldest cells back, the persisted config stamps k centroids
      again with epoch 2 — the full grow-and-shrink lifecycle under
      the same stale-stream reject discipline.

    Scale shape: the one-time rebalance reads ONLY the hot cell's
    partition directory and the merge only the two coldest cells'; each
    replaces those cells' files through one crash-safe move-in-first
    swap (the merge then moves the last cell's files to the dropped
    slot);
    per-call work is the k-row manifest pass plus the served search,
    whose index scan statically prunes to the probed cells. The gates
    fold to one broadcast row.
    """
    from ..index_pipeline import (
        load_ann_index,
        load_ann_quantizers,
        merge_cells,
        rebalance_cell,
    )
    from ..operators.cache import checkpoint_owned

    q, c = _ann_sides(spark, sf_dir)
    small = _probe_small(sf_dir, c)

    def _build(out_dir):
        _fork_ann_index(c, sf_dir, out_dir)
        before, _after, _ = rebalance_cell(spark, c, out_dir)
        b = {int(r["cell"]): int(r["n_vectors"]) for r in before.collect()}
        hot = max(b, key=lambda x: (b[x], -x))
        _, _, split_config = load_ann_quantizers(out_dir)
        grew = (
            int(split_config["n_centroids"]) == 17
            and int(split_config.get("epoch", 0)) == 1
        )
        merge_cells(spark, c, out_dir)
        return hot, b, grew

    # its own copy, not similarity_index_served's dir: rebalance MUTATES
    # the quantizers and layout, and that query's row-identity gate
    # compares disk against an in-memory encode under the BUILD's
    # quantizers.
    out_dir, (hot, b, grew) = _build_dir_once(
        ("ann_rebalance", sf_dir), _build, "index"
    )

    _, _, config = load_ann_quantizers(out_dir)
    n_cells = int(config["n_centroids"])
    # probe-all at tiny sfs (exactness), 12/16 above — the same probe
    # fraction the pre-rebalance ladder held (split 16->17, merge back
    # to 16)
    n_probe = n_cells if small else 12

    def _gates_leg():
        manifest_after = load_ann_index(spark, out_dir).groupBy("cell").agg(
            F.count("*").alias("n_vectors")
        )
        return checkpoint_owned(manifest_after.agg(
            (F.sum("n_vectors") == F.lit(sum(b.values()))).alias(
                "counts_preserved"
            ),
            (
                F.coalesce(
                    F.max(F.when(F.col("cell") == hot, F.col("n_vectors"))),
                    F.lit(0),
                )
                < F.lit(b[hot])
            ).alias("hot_cell_reduced"),
            F.lit(grew).alias("quantizer_grew"),
            F.lit(
                n_cells == 16 and int(config.get("epoch", 0)) == 2
            ).alias("quantizer_remerged"),
        ))

    _, per_q, gates = _served_recall(
        spark, q, c, out_dir, n_probe, c, _gates_leg
    )
    return per_q.crossJoin(F.broadcast(gates))


@register(
    "ann_index_deletes",
    oracle=_exact_topk_sql("vec_id >= 10 AND vec_id % 7 <> 3")
    + """
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS deleted_absent, TRUE AS tombstones_match
FROM topk
GROUP BY query_id
""",
    doc=(
        "[beyond-ref] ANN index deletion contract: tombstone a corpus "
        "slice out of the persisted index, then gate in-plan on "
        "deleted ids NEVER surfacing in served results, the tombstone "
        "store matching the dropped set exactly, and per-query recall "
        ">= 0.8 vs exact top-5 over the SURVIVORS "
        "(SURVEY §2.10 similarity tier)"
    ),
)
def ann_index_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index deletion as a registered differential (VERDICT r13 #1 —
    the corpus build drops documents, and without a deletion path the
    persisted index serves them forever): fork a copy of the
    ``similarity_index_served`` index once per (process, corpus),
    ``delete_ids`` the deterministic ``vec_id % 7 == 3`` slice, and
    emit per-query recall rows measured over the SURVIVING corpus
    crossed with two 1-row gates, all literally TRUE in the oracle:

    - deleted_absent: no served (query, rank) row carries a tombstoned
      id — the serving path's anti-join is load-bearing at every sf.
      The serve deliberately passes the FULL candidate set as the
      re-rank corpus: with corpus=survivors the re-rank's inner join
      would hide deleted ids even if the anti-join were deleted
      (review r14 — the gate would be vacuous); with corpus=c the
      tombstone anti-join is the ONLY thing keeping them out, so
      breaking it flips the gate. When the anti-join works, the
      results are identical either way (deleted ids never shortlist,
      so the re-rank never fetches their vectors),
    - tombstones_match: the persisted tombstone store holds EXACTLY
      the dropped slice (no silent loss, no stray id),
    - recall_ok: per-query recall >= 0.8 vs exact top-5 over the
      survivors — deletion must not cost the remaining corpus recall
      (the tombstoned rows still occupy cells until ``purge_deleted``,
      so this also checks the hidden rows don't crowd out shortlists).

    Scale shape: ``delete_ids`` is O(|ids|) — no index file rewrite;
    serving reads only probed-cell partitions and broadcast-anti-joins
    a kilobyte tombstone frame; the exact audit side is the bounded
    10-query brute-force the whole ANN family uses.
    """
    from ..index_pipeline import delete_ids, load_tombstones

    q, c = _ann_sides(spark, sf_dir)
    n_probe = 16 if _probe_small(sf_dir, c) else 12

    def _build(out_dir):
        _fork_ann_index(c, sf_dir, out_dir)
        delete_ids(
            spark, out_dir, c.where(F.col("vec_id") % 7 == 3).select("vec_id")
        )

    # its own copy: the build/rebalance dirs must stay exactly what their
    # gates expect. A dir whose tombstones were removed must rebuild, not
    # serve (ADVICE r14).
    out_dir, _ = _build_dir_once(
        ("ann_delete", sf_dir), _build, "index", "tombstones"
    )
    served, per_q = _served_recall(
        spark, q, c, out_dir, n_probe, c.where(F.col("vec_id") % 7 != 3)
    )
    deleted_absent = served.agg(
        (
            F.sum(F.when(F.col("candidate_id") % 7 == 3, 1).otherwise(0)) == 0
        ).alias("deleted_absent")
    )
    tomb_df = load_tombstones(spark, out_dir)
    if tomb_df is None:
        # missing store → empty tombstone set: the full-outer gate then
        # reads FALSE loudly instead of crashing on None (ADVICE r14)
        tomb_df = spark.createDataFrame([], "candidate_id bigint")
    tomb = tomb_df.withColumn("_t", F.lit(1))
    doomed = (
        c.where(F.col("vec_id") % 7 == 3)
        .select(F.col("vec_id").alias("candidate_id"))
        .withColumn("_d", F.lit(1))
    )
    tomb_gate = tomb.join(doomed, "candidate_id", "full_outer").agg(
        (
            F.sum(
                F.when(
                    F.col("_t").isNull() | F.col("_d").isNull(), 1
                ).otherwise(0)
            )
            == 0
        ).alias("tombstones_match")
    )
    return per_q.crossJoin(F.broadcast(deleted_absent)).crossJoin(
        F.broadcast(tomb_gate)
    )


# ---------------------------------------------------------------------------
# Multimodal: binary-column stats (the JVM-side tier of operators/
# multimodal.py) — byte length + content hash over an opaque payload.
# documents.text stands in as the payload so the op is driver-checkable.
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id,
       OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes,
       MD5(text) AS content_hash,
       CASE WHEN OCTET_LENGTH(CAST(text AS BLOB)) > 500 THEN 'large' ELSE 'small' END AS size_class
FROM documents
""",
    doc="[beyond-ref] multimodal binary-column stats: byte length, content hash (SURVEY §2.10)",
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_hash"),
        F.when(F.length(payload) > 500, "large").otherwise("small").alias(
            "size_class"
        ),
    )


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py) — checked against DuckDB's native ASOF
# JOIN. Right side pre-deduped per (key, time) so ties are deterministic
# in both engines.
# ---------------------------------------------------------------------------


@register(
    "asof_join_latest_order",
    oracle="""
WITH uo AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
         MAX_BY(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, EPOCH_US(e.ts) AS ts_us,
       o.o_orderkey AS last_orderkey,
       EPOCH_US(o.o_orderdate) AS last_orderdate_us,
       o.o_totalprice AS last_totalprice
FROM events e ASOF LEFT JOIN uo o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
    doc="[beyond-ref] as-of join: latest order at event time, sort-based distributed construction (pyspark_guide as-of pattern)",
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    uo = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey"),
        F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
    )
    joined = asof_join(
        ev,
        uo,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("last_orderdate_us"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join — bucketized equi-join, exact filter. Pairs of
# events by the same user within 2 hours of each other.
# ---------------------------------------------------------------------------


@register(
    "range_join_close_events",
    oracle="""
SELECT a.event_id, b.event_id AS r_event_id, a.user_id,
       EPOCH_US(b.ts) - EPOCH_US(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND ABS(EPOCH_US(a.ts) - EPOCH_US(b.ts)) <= 7200000000
""",
    doc="[beyond-ref] range/interval join via bucketized equi-join (pyspark_guide range-join pattern)",
)
def range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import range_join_bucketed

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    right = ev.select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    joined = range_join_bucketed(
        ev, right, "user_id", "r_user_id", "ts", "r_ts", max_gap_seconds=7200
    )
    return joined.where(F.col("event_id") < F.col("r_event_id")).select(
        "event_id",
        "r_event_id",
        "user_id",
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# TF-IDF per (doc, token): tf × ln(N/df). Pure integer counts + ln of an
# exact ratio — engine-identical doubles.
# ---------------------------------------------------------------------------


@register(
    "tfidf_tokens",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2
),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
WHERE tf.tf >= 3
""",
    doc="[beyond-ref] TF-IDF weighting over the token explode (SURVEY §2.10 text analysis)",
)
def tfidf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a 1-row aggregate cross-joined in (broadcast by AQE):
    # keeps the whole query ONE lazy plan — no driver-side action during
    # plan construction (VERDICT r1 "What's wrong" #4).
    n = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6))
        .where(F.col("tf") >= 3)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


# ---------------------------------------------------------------------------
# BM25 (Okapi) relevance scoring — the retrieval-scoring tier of the text
# family (TF-IDF's ranking-grade sibling; what a RAG corpus build scores
# chunks with). One token explode feeds tf / dl; df and the two scalar
# stats (N, avgdl) broadcast-cross-join in, so the whole query is one
# corpus-sized pass + tiny joins — no per-query rescan at 100 TB, and the
# query-term filter prunes tf before its shuffle.
#
# Cross-engine float discipline (same as tfidf): integer counts
# everywhere, ln of exact ratios, expression trees parenthesized
# IDENTICALLY in Spark and SQL, per-term scores rounded to 6 dp BEFORE
# the per-doc sum — 6-dp decimals are not exactly binary-representable,
# but order-dependent ulp drift across ≤|terms| adds stays ~1e-10 below
# the final 6-dp rounding granularity, so both engines agree after the
# last round (a flake would need a sum within ~1e-14 of a boundary).
# k1=1.2, b=0.75 (the standard Okapi constants) folded to literals so
# both engines see identical operands.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "scan")


@register(
    "bm25_scores",
    oracle=f"""
WITH tokc AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
tok AS (SELECT doc_id, token FROM tokc WHERE token <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN {str(tuple(_BM25_TERMS))} GROUP BY 1, 2
),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         ROUND(LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
               ((tf.tf * 2.2) /
                (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / ad.avgdl)))), 6) AS s
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
  CROSS JOIN stats CROSS JOIN ad
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, ROUND(SUM(s), 6) AS bm25
FROM scored GROUP BY doc_id
""",
    doc=(
        "[beyond-ref] Okapi BM25 relevance scores for a fixed query term "
        "set over the documents corpus (k1=1.2, b=0.75) — retrieval-"
        "scoring tier of the text family (SURVEY §2.10)"
    ),
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        tok.where(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    stats = docs.agg(F.count("*").cast("double").alias("n_docs"))
    ad = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    score = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * (
            (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl"))))
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ad))
        .select("doc_id", score.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(F.sum("s"), 6).alias("bm25"),
    )


# ---------------------------------------------------------------------------
# Pivot: event_type counts per user — wide-table materialization
# (pyspark_guide pivot pattern; oracle via portable conditional agg).
# ---------------------------------------------------------------------------


@register(
    "pivot_event_counts",
    oracle="""
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY user_id
""",
    doc="pivot to wide table (SURVEY §2.4 superset; explicit value list so the plan is one pass)",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # explicit values list → single-pass pivot (no distinct-values pre-job)
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )


# ---------------------------------------------------------------------------
# Sliding event-time windows (batch twin): each event lands in
# window_len/slide overlapping windows, generated by a JVM-side sequence
# explode — the exact semantics of F.window(ts, '1 hour', '30 minutes').
# ---------------------------------------------------------------------------


@register(
    "event_sliding_windows",
    oracle="""
WITH buckets AS (
  SELECT event_type, value,
         DATE_TRUNC('hour', ts) + (CASE WHEN MOD(EPOCH_US(ts), 3600000000) >= 1800000000
                                        THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)
           - offs * (INTERVAL 30 MINUTE) AS window_start
  FROM events, UNNEST([0, 1]) AS t(offs)
)
SELECT EPOCH_US(window_start) AS window_start_us, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS sum_value
FROM buckets
GROUP BY 1, 2
""",
    doc="[beyond-ref] sliding windows (1h every 30m), batch twin of F.window(ts, len, slide)",
)
def event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.select(win.alias("w"), "event_type", "value")
        .groupBy(
            F.unix_micros(F.col("w.start")).alias("window_start_us"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(_cents(F.col("value"))) / F.lit(100.0)).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting: word pieces + punctuation as separate
# tokens (simplified GPT-2 pre-tokenizer shape), all JVM/regex-engine
# side. Both engines use RE2-compatible syntax here.
# ---------------------------------------------------------------------------


@register(
    "token_count_bpe",
    oracle="""
SELECT doc_id,
  LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpeish_tokens,
  LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+')) AS n_word_tokens,
  LEN(REGEXP_EXTRACT_ALL(text, '[0-9]+')) AS n_number_tokens,
  CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_chars_div4
FROM documents
""",
    doc="[beyond-ref] token counting: whitespace-free BPE-ish regex pre-tokenizer + chars/4 estimator (SURVEY §2.10)",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rx = lambda p: F.size(F.regexp_extract_all("text", F.lit(p), 0)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        rx(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]").alias("n_bpeish_tokens"),
        rx(r"[a-zA-Z]+").alias("n_word_tokens"),
        rx(r"[0-9]+").alias("n_number_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_chars_div4"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint (Rabin-Karp / winnowing-lite): polynomial hash
# of every 8-char window, document sketch = the k smallest window hashes.
# Pure integer arithmetic on code points — exact in both engines
# (max value ≈ 255 * sum(31^i, i<8) < 2^43, no overflow, no float).
# ---------------------------------------------------------------------------

_RH_WIN = 8
# ascii() is INT; widen before multiplying (255 * 31^5 overflows int32
# under ANSI in both engines)
_RH_POLY_SPARK = " + ".join(
    f"CAST(ascii(substring(text, i + {j}, 1)) AS BIGINT) * {31**j}"
    for j in range(_RH_WIN)
)
_RH_POLY_DUCK = " + ".join(
    f"CAST(ASCII(SUBSTRING(text, i + {j}, 1)) AS BIGINT) * {31**j}"
    for j in range(_RH_WIN)
)


@register(
    "rolling_hash_fingerprint",
    oracle=f"""
WITH wins AS (
  SELECT doc_id, CAST({_RH_POLY_DUCK} AS BIGINT) AS wh
  FROM documents, UNNEST(GENERATE_SERIES(1, LENGTH(text) - {_RH_WIN - 1})) AS t(i)
  WHERE LENGTH(text) >= {_RH_WIN}
)
SELECT doc_id,
       MIN(wh) AS min_hash,
       COUNT(DISTINCT wh) AS n_distinct_windows,
       CAST(SUM(CASE WHEN wh % 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
FROM wins GROUP BY doc_id
""",
    doc="[beyond-ref] rolling-hash (Rabin-Karp) fingerprint: polynomial char-window hashes, winnowing-style selection (SURVEY §2.10)",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import spread_for_compute

    # the per-char polynomial window hashes are scan-stage compute —
    # spread a narrow local scan before them (guide §2.5; no-op at
    # scale)
    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents").where(F.length("text") >= _RH_WIN)
    )
    # Materialize char codes ONCE per doc: substring(text, i, 1) is O(i)
    # on UTF-8 strings, which made the per-window form quadratic in doc
    # length (13 s at sf0.1 → ~1 s with the O(1) array lookups).
    codes = F.expr("transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))")
    poly = " + ".join(f"element_at(_codes, i + {j}) * {31**j}" for j in range(_RH_WIN))
    win_hash = F.expr(
        f"transform(sequence(1, _len - {_RH_WIN - 1}), i -> CAST({poly} AS BIGINT))"
    )
    wins = docs.select(
        "doc_id", codes.alias("_codes"), F.length("text").alias("_len")
    ).select("doc_id", F.explode(win_hash).alias("wh"))
    return wins.groupBy("doc_id").agg(
        F.min("wh").alias("min_hash"),
        F.countDistinct("wh").alias("n_distinct_windows"),
        F.sum(F.when(F.col("wh") % 64 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_selected"),
    )


# ---------------------------------------------------------------------------
# Training-data assembly tier [beyond-ref]: the operations between "clean
# corpus" and "training run". All splits/samples are HASH-deterministic
# (md5 of the stable doc key), never seeded-random: reproducible across
# engines, reruns, and backfills — the production pattern (a doc's split
# assignment must never change when the pipeline re-executes).
# ---------------------------------------------------------------------------

_SPLIT_HASH_SPARK = "conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) % 100"
_SPLIT_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"


@register(
    "train_val_test_split",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_SPLIT_HASH_DUCK} < 80 THEN 'train'
            WHEN {_SPLIT_HASH_DUCK} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    doc="[beyond-ref] deterministic 80/10/10 train/val/test split via md5 bucket of the doc key (SURVEY §2.10 training-data tier)",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH_SPARK)
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# Split n-gram leakage [beyond-ref]: cross-split verbatim leakage — the
# fraction of val/test docs sharing at least one word 8-gram with ANY
# train doc. Distinct from benchmark_contamination (known eval strings
# inside the corpus): this audits the corpus against ITSELF, the leakage
# that silently inflates held-out metrics when near-duplicate documents
# straddle a hash split. The standard pre-training split health check
# (the reason dedup runs BEFORE splitting).
# ---------------------------------------------------------------------------

_LEAK_N = 8  # word n-gram order


@register(
    "split_ngram_leakage",
    oracle=f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_SPLIT_HASH_DUCK} < 80 THEN 'train'
              WHEN {_SPLIT_HASH_DUCK} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tk AS (
  SELECT doc_id, split,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM s
),
g AS (
  SELECT doc_id, split,
         UNNEST(list_distinct(list_transform(
            range(1, len(toks) - {_LEAK_N - 2}),
            i -> CAST('0x' || SUBSTRING(md5(array_to_string(
                   toks[i:i + {_LEAK_N - 1}], ' ')), 1, 15) AS BIGINT)))) AS h
  FROM tk WHERE len(toks) >= {_LEAK_N}
),
tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
ev AS (
  SELECT g.split, g.doc_id,
         MAX(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS leaked
  FROM g LEFT JOIN tr ON tr.h = g.h
  WHERE g.split IN ('val', 'test')
  GROUP BY g.split, g.doc_id
),
ag AS (SELECT split, CAST(SUM(leaked) AS BIGINT) AS n_leaked FROM ev GROUP BY split),
base AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM s WHERE split IN ('val', 'test') GROUP BY split
)
SELECT base.split, base.n_docs,
       CAST(COALESCE(ag.n_leaked, 0) AS BIGINT) AS n_leaked,
       ROUND(CAST(COALESCE(ag.n_leaked, 0) AS DOUBLE) / base.n_docs, 6)
         AS leak_share
FROM base LEFT JOIN ag USING (split)
""",
    doc=(
        "[beyond-ref] train/val split n-gram leakage audit: share of "
        "val/test docs with at least one word 8-gram verbatim in the "
        "train split — the cross-split leakage check that inflated "
        "held-out metrics reveal too late (SURVEY §2.10 training-data "
        "tier)"
    ),
)
def split_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per held-out split: doc count, docs sharing >= 1 word 8-gram with
    the train split, and the leaked share. Split assignment is the same
    md5 bucket as ``train_val_test_split``; gram identity is the
    winnowing-style md5-prefix int64 over the space-joined 8 tokens
    (engine-identical, so both engines mark the same docs leaked).

    Scale shape: grams are per-row array work (array_distinct before
    the explode — no within-doc duplicates shuffle); the (doc, split,
    gram-hash) incidence is the only corpus-sized frame and it carries
    8-byte hashes, never text; the train-side gram set collapses to one
    row per distinct gram; the val/test incidence LEFT-joins it
    hash-keyed (<= 1 match per row, no fanout); per-doc MAX then
    per-split SUM collapse to the 2-row report. The incidence is
    lazily localCheckpoint-ed because the train-set branch and the
    val/test branch would otherwise each re-run the explode.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH_SPARK)
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = docs.select("doc_id", split.alias("split"), toks.alias("toks"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(_LEAK_N - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, _LEAK_N))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    g = (
        t.where(F.size("toks") >= _LEAK_N)
        .select("doc_id", "split", F.explode(grams).alias("h"))
        .localCheckpoint(eager=False)
    )
    tr = g.where(F.col("split") == "train").select("h").distinct()
    ev = (
        g.where(F.col("split").isin("val", "test"))
        .join(tr.withColumn("_t", F.lit(1)), "h", "left")
        .groupBy("split", "doc_id")
        .agg(F.max(F.coalesce(F.col("_t"), F.lit(0))).alias("leaked"))
    )
    ag = ev.groupBy("split").agg(F.sum("leaked").alias("n_leaked"))
    base = (
        t.where(F.col("split").isin("val", "test"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    return base.join(ag, "split", "left").select(
        "split",
        "n_docs",
        F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long").alias("n_leaked"),
        F.round(
            F.coalesce(F.col("n_leaked"), F.lit(0)).cast("double")
            / F.col("n_docs"),
            6,
        ).alias("leak_share"),
    )


# ---------------------------------------------------------------------------
# Split leakage repair [beyond-ref] (VERDICT r9 #4): the ACTION for the
# audit above — the doc-level quarantine decision the corpus build acts
# on (corpus_pipeline.run_corpus_build(leakage_ngram=8)). Quarantine
# (drop the leaked held-out doc) rather than re-home: the train side
# never changes, so ONE pass leaves the corpus auditing at
# leak_share = 0 by construction; re-homing into train grows the train
# gram set and can newly leak other held-out docs (iterated closure).
# ---------------------------------------------------------------------------


@register(
    "split_leakage_repair",
    oracle=f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_SPLIT_HASH_DUCK} < 80 THEN 'train'
              WHEN {_SPLIT_HASH_DUCK} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tk AS (
  SELECT doc_id, split,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM s
),
g AS (
  SELECT doc_id, split,
         UNNEST(list_distinct(list_transform(
            range(1, len(toks) - {_LEAK_N - 2}),
            i -> CAST('0x' || SUBSTRING(md5(array_to_string(
                   toks[i:i + {_LEAK_N - 1}], ' ')), 1, 15) AS BIGINT)))) AS h
  FROM tk WHERE len(toks) >= {_LEAK_N}
),
tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
lk AS (
  SELECT DISTINCT g.doc_id FROM g JOIN tr USING (h)
  WHERE g.split IN ('val', 'test')
)
SELECT s.doc_id, s.split,
       CASE WHEN lk.doc_id IS NOT NULL THEN 'quarantine_leakage'
            ELSE 'keep' END AS action
FROM s LEFT JOIN lk USING (doc_id)
WHERE s.split IN ('val', 'test')
""",
    doc=(
        "[beyond-ref] leakage-aware split repair: per held-out doc, "
        "quarantine when it shares a word 8-gram verbatim with any "
        "train doc — the action stage of the split_ngram_leakage audit, "
        "consumed by the corpus build (SURVEY §2.10 training-data tier)"
    ),
)
def split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level quarantine decisions for cross-split 8-gram leakage,
    exactly as ``corpus_pipeline.run_corpus_build(leakage_ngram=8)``
    consumes them (operators/corpus.py:split_leakage_actions). Split
    assignment is the same md5 bucket as ``train_val_test_split``; gram
    identity the same md5-prefix int64 as ``split_ngram_leakage`` —
    engine-identical, so both engines quarantine the same docs.

    Scale shape: see the operator (per-row gram arrays, 8-byte-hash
    incidence, distinct train gram set, hash-keyed left-semi — document
    text never shuffles past the first select).
    """
    from ..operators.corpus import split_leakage_actions

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH_SPARK)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return split_leakage_actions(
        docs.select("doc_id", "text", split.alias("split")), n=_LEAK_N
    )


_SHARD_HASH_SPARK = "conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) % 16"
_SHARD_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 16"


@register(
    "shard_manifest",
    oracle=f"""
SELECT {_SHARD_HASH_DUCK} AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY 1
""",
    doc=(
        "[beyond-ref] webdataset-style output sharding: deterministic "
        "md5-bucket shard assignment (16 shards) + per-shard audit "
        "manifest (doc count, byte budget, id range) (SURVEY §2.10 "
        "training-data tier)"
    ),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment + manifest for the corpus writer. The shard id
    is the hash-deterministic bucket the split/sampling family already
    uses (re-execution can never move a doc between shards); the
    writer repartitions on it (`repartition('shard_id').write...`) so
    each output shard is one task's sequential write, and this
    manifest is the audit table a training loader checks before
    consuming. One hash + one count-sum groupBy — the manifest costs a
    single 16-row shuffle at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.expr(_SHARD_HASH_SPARK).cast("long").alias("shard_id"),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


@register(
    "stratified_sample_docs",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_SPLIT_HASH_DUCK} < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
""",
    doc="[beyond-ref] hash-deterministic stratified sampling: per-stratum keep rates (en 50%, rest 20%) via md5 bucket — the reproducible analog of sampleBy (SURVEY §2.10 training-data tier)",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH_SPARK)
    rate = F.when(F.col("lang") == "en", 50).otherwise(20)
    return docs.where(bucket < rate).select("doc_id", "lang")


# Benchmark contamination: which corpus docs share word 5-grams with the
# held-out benchmark set (here: doc_id < 20 stands in for the benchmark).
# The shingle equi-join is benchmark-sized on one side, so at 100 TB the
# benchmark shingle set broadcasts and the corpus streams through.
@register(
    "benchmark_contamination",
    oracle="""
WITH toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS t(i)
  WHERE LEN(toks) >= 5
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles
FROM sh s JOIN bench b ON s.shingle = b.shingle
WHERE s.doc_id >= 20
GROUP BY s.doc_id
""",
    doc="[beyond-ref] benchmark contamination check: corpus docs sharing word 5-grams with the held-out benchmark set (SURVEY §2.10 training-data tier)",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard  # noqa: F401  (same shingle scheme)

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    with_toks = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 5)
    idx = F.sequence(F.lit(0), F.size("toks") - 5)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(5)]
    )
    # distinctness is per (doc_id, shingle): array_distinct fused into
    # the explode replaces the corpus-wide DISTINCT shuffle (see
    # operators/dedup.shingles for the fusion trap this avoids)
    sh = with_toks.select(
        "doc_id",
        F.explode(F.array_distinct(F.transform(idx, gram))).alias("shingle"),
    )
    bench = sh.where(F.col("doc_id") < 20).select("shingle").distinct()
    return (
        sh.where(F.col("doc_id") >= 20)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_shingles"))
    )


# Benchmark decontamination [beyond-ref] (r10): the ACTION for the
# contamination audit above — the doc-level drop decision the corpus
# build acts on (corpus_pipeline.run_corpus_build(benchmark=...)),
# mirroring the leakage-repair audit→action pattern.
@register(
    "benchmark_decontaminate",
    oracle="""
WITH toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(toks) - 4)) AS t(i)
  WHERE LEN(toks) >= 5
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
hit AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id >= 20
)
SELECT d.doc_id,
       CASE WHEN h.doc_id IS NOT NULL THEN 'drop_contaminated'
            ELSE 'keep' END AS action
FROM documents d LEFT JOIN hit h USING (doc_id)
WHERE d.doc_id >= 20
""",
    doc=(
        "[beyond-ref] benchmark decontamination: per corpus doc, drop "
        "when it shares a word 5-gram with any benchmark doc — the "
        "action stage of the benchmark_contamination audit, consumed "
        "by the corpus build (SURVEY §2.10 training-data tier)"
    ),
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level decontamination decisions, exactly as
    ``corpus_pipeline.run_corpus_build(benchmark=...)`` consumes them
    (operators/corpus.py:contamination_actions). The benchmark stand-in
    is the audit's (doc_id < 20); gram scheme identical (space-joined
    word 5-grams, per-doc array_distinct fused into the explode), so a
    doc the audit counts is exactly a doc this drops.

    Scale shape: the benchmark gram set collapses to one row per
    distinct gram and broadcasts; the corpus streams through a
    left-semi probe — document text never shuffles.
    """
    from ..operators.corpus import contamination_actions

    docs = load_table(spark, sf_dir, "documents")
    return contamination_actions(
        docs.where(F.col("doc_id") >= 20),
        docs.where(F.col("doc_id") < 20).select("text"),
        n=5,
    )


# Sequence packing (concat-then-chunk, GPT-pretraining style): docs are
# concatenated in a stable order per lang and chunked into 512-token
# context windows; pack_id = the window each doc STARTS in.
#
# Scale shape: a single `Window.partitionBy("lang")` cumsum serializes each
# language's whole corpus through ONE task (at 100 TB the `en` partition is
# most of the data). Instead: a two-phase distributed prefix sum —
#   1. shard each lang into doc_id-contiguous blocks (`doc_id // _PACK_SHARD`,
#      monotonic in doc_id, so block-local order == global order),
#      local cumsum per (lang, shard) — bounded ≤ _PACK_SHARD rows/task;
#   2. per-(lang, shard) totals → per-lang exclusive running offset over the
#      tiny shard table (rows = n_docs/_PACK_SHARD) → broadcast-join back and
#      add. Identical output to the single-window form (the DuckDB oracle IS
#      that form), no corpus-sized window partition anywhere in the plan.
_PACK_WINDOW = 512
_PACK_SHARD = 4096


@register(
    "pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // {_PACK_WINDOW} AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % {_PACK_WINDOW} AS BIGINT) AS pack_offset
FROM c
""",
    doc="[beyond-ref] sequence packing for LLM pretraining: concat-then-chunk into 512-token windows via one cumsum window (SURVEY §2.10 training-data tier)",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences_plan(docs, shard_size=_PACK_SHARD)


def pack_sequences_plan(docs: DataFrame, shard_size: int = _PACK_SHARD) -> DataFrame:
    """Two-phase-prefix-sum packing plan; ``shard_size`` bounds task size."""
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / shard_size).cast("long").alias("shard"),
    )
    # phase 1: block-local cumsum, task size bounded by _PACK_SHARD
    w_local = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    # phase 2: exclusive per-lang running offset over the tiny shard table
    w_shards = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        t.groupBy("lang", "shard")
        .agg(F.sum("n_tokens").alias("shard_total"))
        .select(
            "lang",
            "shard",
            F.coalesce(F.sum("shard_total").over(w_shards), F.lit(0)).alias(
                "shard_offset"
            ),
        )
    )
    c = local.join(F.broadcast(offsets), ["lang", "shard"])
    start = F.col("shard_offset") + F.col("local_cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start / _PACK_WINDOW).cast("long").alias("pack_id"),
        (start % _PACK_WINDOW).cast("long").alias("pack_offset"),
    )


# PII scrubbing: conservative patterns shared verbatim by both regex
# engines (Java regex and RE2 agree on these constructs).
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_LONGNUM_RE = "[0-9]{6,}"


@register(
    "pii_scrub",
    oracle=f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(LEN(regexp_extract_all(text, '{_LONGNUM_RE}')) AS BIGINT) AS n_long_numbers,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g')) AS scrubbed_hash
FROM documents
""",
    doc="[beyond-ref] PII scrubbing: email/long-number detection + redaction, verified via scrubbed-text hash (SURVEY §2.10 training-data tier)",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _LONGNUM_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_LONGNUM_RE))).cast("long").alias("n_long_numbers"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_hash"),
    )


# ---------------------------------------------------------------------------
# Sketch gate [beyond-ref]: approx_count_distinct (HyperLogLog++) with its
# error bound ASSERTED IN-PLAN against the exact count — the recall-gate
# pattern applied to sketches. The oracle recomputes the exact side and
# expects within_bound TRUE; a sketch drifting past 5% relative error
# fails the driver's hash check. At 100 TB the HLL path is the one you
# run (no distinct shuffle of the raw column); this query keeps it honest.
# Measured HLL++ (rsd=0.02) max relative error on the driver corpus:
# 0.000 @sf0.001, 0.000 @sf0.01, 0.004 @sf0.1 — bound 0.05, margin >= 0.046
# (deterministic sketch; a flip indicates a cardinality regime the rsd
# setting can't hold, i.e. re-tune rsd, not an engine bug).
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_gate",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events
GROUP BY event_type
""",
    doc="[beyond-ref] HyperLogLog approx-distinct vs exact, 5% relative-error bound asserted in-plan (SURVEY §2.10 sketch tier)",
)
def approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_n_approx"),
    )
    err = F.abs(F.col("_n_approx") - F.col("n_exact")) / F.col("n_exact")
    return agg.select("event_type", "n_exact", (err <= 0.05).alias("within_bound"))


# ---------------------------------------------------------------------------
# End-to-end corpus cleaning [beyond-ref]: the decision table a training-
# data pipeline actually emits — one row per document with keep/drop and
# the reason, composing quality scoring, exact dedup, and near-dup +
# verbatim-overlap cluster consolidation with fixed precedence (quality →
# exact → near/verbatim). The oracle recomputes the whole policy,
# including true connected components via the recursive CTE over the
# UNION of both edge tiers, so the composition is hash-checked, not just
# its parts.
#
# Substring tier (VERDICT r8 #3): winnowing candidate pairs (MOSS,
# SIGMOD'03 — constants below, also used by winnowing_candidate_pairs)
# feed the cluster consolidation as a second edge source; a non-keeper
# connected only by verbatim-run evidence drops as
# 'drop_verbatim_overlap'. Guarantee at the 16/8/min-2 defaults: any
# pair sharing a verbatim run >= k + 2w − 1 = 31 chars shares >= 2
# fingerprints, so MinHash-invisible verbatim quoting no longer passes
# cleaning (golden test in tests/test_corpus_pipeline.py).
# ---------------------------------------------------------------------------

_WINNOW_K = 16  # k-gram length (chars)
_WINNOW_W = 8  # winnowing window (positions) → 1-fp guarantee t = w+k−1 = 23
_WINNOW_DF_CAP = 50  # drop fingerprints in more docs than this (boilerplate)
_WINNOW_MIN_SHARED = 2  # pairs sharing >= this many fps (run >= k+2w−1 = 31)

# Shared winnowing CTE chain (hash = first 15 md5 hex chars as int64 —
# engine-identical MIN selection); consumed by corpus_clean_decisions
# and winnowing_candidate_pairs.
_WINNOW_CTES = f"""h_w AS (
  SELECT doc_id,
         list_transform(range(1, LENGTH(text) - {_WINNOW_K - 2}),
            i -> CAST('0x' || SUBSTRING(md5(substring(text, CAST(i AS INTEGER),
                                        {_WINNOW_K})), 1, 15) AS BIGINT)) AS hs
  FROM documents
  WHERE LENGTH(text) >= {_WINNOW_K + _WINNOW_W - 1}
),
fp_w AS (
  SELECT DISTINCT doc_id, UNNEST(
    list_distinct(list_transform(range(1, len(hs) - {_WINNOW_W - 2}),
       i -> list_min(hs[i:i + {_WINNOW_W - 1}])))) AS f
  FROM h_w
),
keep_w AS (
  SELECT f FROM fp_w GROUP BY f HAVING COUNT(*) <= {_WINNOW_DF_CAP}
),
fk_w AS (SELECT fp_w.doc_id, fp_w.f FROM fp_w JOIN keep_w USING (f)),
wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fk_w a JOIN fk_w b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
)"""


@register(
    "corpus_clean_decisions",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
{_WINNOW_CTES},
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
  UNION
  SELECT doc_a AS u, doc_b AS v FROM wpairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM wpairs
),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
),
clusters AS (
  SELECT n.u AS doc_id, LEAST(n.u, MIN(r.v)) AS cluster_id
  FROM (SELECT DISTINCT u FROM und) n JOIN reach r ON r.u = n.u
  GROUP BY n.u
),
quality AS (
  SELECT doc_id,
    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens,
    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the','a'))) AS n_stop,
    MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
  FROM documents
)
SELECT q.doc_id,
  CASE
    WHEN NOT (q.n_tokens >= 20
              AND CAST(q.n_stop AS DOUBLE) / NULLIF(q.n_tokens, 0) BETWEEN 0.01 AND 0.5)
      THEN 'drop_quality'
    WHEN q.doc_id <> q.exact_keeper THEN 'drop_exact_dup'
    WHEN c.doc_id IS NOT NULL AND q.doc_id <> c.cluster_id
      -- IN, not a join: DuckDB's WITH RECURSIVE block skips the UNION
      -- dedup of non-recursive member CTEs, so a distinct-docs CTE
      -- here came back with duplicates and multiplied the left join
      THEN CASE WHEN q.doc_id IN (SELECT doc_a FROM pairs
                                  UNION ALL SELECT doc_b FROM pairs)
                THEN 'drop_near_dup'
                ELSE 'drop_verbatim_overlap' END
    ELSE 'keep'
  END AS decision
FROM quality q
LEFT JOIN clusters c ON c.doc_id = q.doc_id
""",
    doc=(
        "[beyond-ref] end-to-end corpus cleaning decision table: quality -> "
        "exact dedup -> near-dup + verbatim-overlap clusters (MinHash and "
        "winnowing edges consolidated in one CC), keep/drop + reason per "
        "doc (SURVEY §2.10 training-data tier)"
    ),
)
def corpus_clean_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Policy body lives in operators/corpus.clean_decisions (r6) so the
    # end-to-end corpus build composes the same code the oracle checks;
    # the parameters here ARE the oracle's constants.
    from ..operators.corpus import clean_decisions

    docs = load_table(spark, sf_dir, "documents")
    return clean_decisions(
        docs, k=_K, bands=_BANDS, threshold=0.5, max_bucket_size=_MAX_BUCKET
    )


# ---------------------------------------------------------------------------
# Quantile-sketch gate [beyond-ref]: approx_percentile (GK sketch) vs the
# exact percentile, relative error asserted in-plan — the sketch-tier
# honesty pattern (same as approx_distinct_gate) applied to quantiles. At
# 100 TB the sketch path is the one you run (mergeable, single pass, no
# full sort); this query keeps it honest. Measured max relative error at
# accuracy=10000 on the driver corpus: 0.0 @sf0.001/0.01/0.1 (the sketch
# is exact below ~accuracy rows per group) — bound 0.01, full margin.
# ---------------------------------------------------------------------------


@register(
    "approx_quantile_gate",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS exact_median,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_returnflag
""",
    doc=(
        "[beyond-ref] GK quantile sketch vs exact percentile, 1% relative "
        "error bound asserted in-plan (SURVEY §2.10 sketch tier; measured "
        "error 0.0 at accuracy=10000 on all driver sfs)"
    ),
)
def approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        (F.percentile(cents, F.lit(0.5)) / 100.0).alias("exact_median"),
        (F.percentile_approx(cents, F.lit(0.5), F.lit(10000)) / 100.0).alias(
            "_approx_median"
        ),
    )
    err = F.abs(F.col("_approx_median") - F.col("exact_median")) / F.abs(
        F.col("exact_median")
    )
    return agg.select(
        "l_returnflag", "n_rows", "exact_median", (err <= 0.01).alias("within_bound")
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle [beyond-ref]: reproducible global training
# order — the "shuffle once, then stream shards in order" step between
# cleaning and serialization. Plan body in operators/corpus.shuffle_order
# (two-phase hash-prefix prefix sum; no corpus-sized window partition —
# the same scale discipline as pack_sequences). The oracle is the naive
# single-window ROW_NUMBER form, so the distributed rank is differentially
# checked against the definitional one.
# ---------------------------------------------------------------------------

_SHUFFLE_SHARD_ROWS = 1024


@register(
    "corpus_shuffle_order",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents
),
r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS global_pos FROM h
)
SELECT doc_id, CAST(global_pos AS BIGINT) AS global_pos,
       CAST(global_pos // {_SHUFFLE_SHARD_ROWS} AS BIGINT) AS shard_id,
       CAST(global_pos % {_SHUFFLE_SHARD_ROWS} AS BIGINT) AS pos_in_shard
FROM r
""",
    doc=(
        "[beyond-ref] deterministic corpus shuffle: seeded-hash global "
        "training order + shard slot via two-phase prefix sum — no "
        "corpus-sized window partition (SURVEY §2.10 training-data tier)"
    ),
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import shuffle_order

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_order(docs, seed="42", shard_rows=_SHUFFLE_SHARD_ROWS)


# ---------------------------------------------------------------------------
# SemDedup-style consolidation [beyond-ref]: embedding near-dup pairs →
# connected components → one keeper per semantic cluster (Abbas et al.
# 2023 keep-one-per-cluster semantics, with min-id as the deterministic
# representative). The pair tier here is the EXACT cosine join over the
# audit-sampled label blocks (label % 4 = 0 — the same bounded-quadratic
# sample as embedding_near_dup_banded) so the whole chain is hash-checked
# against a recursive-CTE transitive closure; at 100 TB the pair input is
# near_dup_pairs_banded's bucket-bounded output feeding the identical
# consolidation (dup_clusters — the three-tier CC of dedup_connected_
# clusters, shared code path).
# ---------------------------------------------------------------------------


@register(
    "embedding_dedup_clusters",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label % {_BANDED_AUDIT_MOD} = 0
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
              (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) >= 0.35
),
und AS (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION
  SELECT vec_b AS u, vec_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u
),
labels AS (
  SELECT n.u AS vec_id, LEAST(n.u, MIN(r.v)) AS cluster_id
  FROM (SELECT DISTINCT u FROM und) n JOIN reach r ON r.u = n.u
  GROUP BY n.u
)
SELECT l.vec_id, l.cluster_id, CAST(s.cs AS BIGINT) AS cluster_size,
       l.vec_id = l.cluster_id AS is_keeper
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cs FROM labels GROUP BY cluster_id) s
  ON s.cluster_id = l.cluster_id
""",
    doc=(
        "[beyond-ref] SemDedup-style semantic dedup: embedding near-dup "
        "pairs -> connected components -> one keeper per cluster, "
        "hash-checked vs recursive-CTE closure on the audit-sampled "
        "label blocks (SURVEY §2.10)"
    ),
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    sampled = emb.where(F.col("label") % _BANDED_AUDIT_MOD == 0).select(
        "vec_id",
        "label",
        as_double_array(F.col("embedding")).alias("v"),
    )
    sampled = sampled.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = sampled.alias("a")
    b = sampled.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cosine >= 0.35)
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
    )
    return dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size", "is_keeper"
    )


# ---------------------------------------------------------------------------
# Split-drift gate [beyond-ref]: total-variation distance between the
# train and val token distributions, per language — the distribution-
# shift audit a training pipeline runs after splitting (a skewed split
# silently biases validation loss). TVD instead of KL because it is
# cross-engine exact: each per-token |p − q| is built from correctly-
# rounded IEEE ops on identical integer operands (no transcendentals,
# whose last-bit behavior differs between libm implementations), scaled
# to an integer, and summed exactly — float addition order can never
# flip the hash.
#
# Scale shape: one token explode → one (lang, token) shuffle with
# map-side partial aggregation (conditional counts for both splits in
# the same pass); per-lang totals are a lang-count-sized aggregate
# broadcast back; the term sum is a second pass over the same hash
# partitioning. No corpus-sized window, no driver materialization.
#
# Threshold provenance (house discipline): the 80/10 split of a
# near-uniform synthetic corpus measures TVD (max over langs)
# 0.1677 @sf0.001, 0.1659 @sf0.01, 0.0413 @sf0.1 — split-sampling
# noise shrinks ~1/sqrt(corpus), so the bound must cover the SMALLEST
# sf the driver checks. Bound 0.35 → margins ≥ 0.18 everywhere
# (deterministic per corpus+hash; a flip means the split actually
# drifted, which is what the gate is for).
# ---------------------------------------------------------------------------

_DRIFT_SCALE = 1_000_000_000_000  # 1e12: term quantum; max s = 2e12 << 2^53
_DRIFT_BOUND = 0.35


@register(
    "split_drift_tvd",
    oracle=f"""
WITH d AS (
  SELECT lang, text,
         CASE WHEN {_SPLIT_HASH_DUCK} < 80 THEN 'train'
              WHEN {_SPLIT_HASH_DUCK} < 90 THEN 'val' END AS split
  FROM documents
),
tok AS (
  SELECT lang, split,
         UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
  FROM d WHERE split IS NOT NULL
),
c AS (
  SELECT lang, token,
         COUNT(*) FILTER (WHERE split = 'train') AS ct,
         COUNT(*) FILTER (WHERE split = 'val') AS cv
  FROM tok GROUP BY lang, token
),
t AS (SELECT lang, SUM(ct) AS tt, SUM(cv) AS tv FROM c GROUP BY lang),
terms AS (
  SELECT c.lang, c.ct, c.cv,
         CAST(ROUND(ABS(CAST(c.ct AS DOUBLE) / CAST(t.tt AS DOUBLE)
                      - CAST(c.cv AS DOUBLE) / CAST(t.tv AS DOUBLE))
                    * {_DRIFT_SCALE}) AS BIGINT) AS term
  FROM c JOIN t USING (lang)
),
agg AS (
  SELECT lang,
         CAST(SUM(ct) AS BIGINT) AS n_train_tokens,
         CAST(SUM(cv) AS BIGINT) AS n_val_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size,
         SUM(term) AS s
  FROM terms GROUP BY lang
)
SELECT lang, n_train_tokens, n_val_tokens, vocab_size,
       CAST(s AS DOUBLE) / {2 * _DRIFT_SCALE} AS tvd,
       TRUE AS drift_ok
FROM agg
""",
    doc=(
        "[beyond-ref] split-drift gate: per-lang total-variation distance "
        "between train and val token distributions, integer-exact term "
        "sum, bound asserted in-plan (SURVEY §2.10 training-data tier)"
    ),
)
def split_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_HASH_SPARK)
    split = F.when(bucket < 80, "train").when(bucket < 90, "val")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = docs.select(
        "lang", split.alias("split"), F.explode(toks).alias("token")
    ).where(F.col("split").isNotNull())
    c = t.groupBy("lang", "token").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("ct"),
        F.count(F.when(F.col("split") == "val", 1)).alias("cv"),
    )
    tot = c.groupBy("lang").agg(
        F.sum("ct").alias("tt"), F.sum("cv").alias("tv")
    )
    p = F.col("ct").cast("double") / F.col("tt").cast("double")
    q = F.col("cv").cast("double") / F.col("tv").cast("double")
    term = F.round(F.abs(p - q) * _DRIFT_SCALE).cast("long")
    agg = (
        c.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.sum("ct").cast("long").alias("n_train_tokens"),
            F.sum("cv").cast("long").alias("n_val_tokens"),
            F.count("*").cast("long").alias("vocab_size"),
            F.sum(term).alias("s"),
        )
    )
    tvd = F.col("s").cast("double") / (2 * _DRIFT_SCALE)
    return agg.select(
        "lang",
        "n_train_tokens",
        "n_val_tokens",
        "vocab_size",
        tvd.alias("tvd"),
        (tvd <= _DRIFT_BOUND).alias("drift_ok"),
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch gate [beyond-ref]: per-day HLL sketches UNIONED across
# batches vs the exact distinct count — the pattern that makes corpus
# stats incremental at 100 TB: each ingest batch persists a tiny sketch
# (S6 sink), and "distinct users ever" is a sketch union, never a
# re-scan of history. approx_distinct_gate checks the one-shot sketch;
# this query checks the MERGE path (sketch_agg per (event_type, day) →
# union_agg per event_type), asserting the merged estimate lands within
# 5% of exact in-plan. Measured max relative error (Datasketches HLL,
# default lgConfigK=12) on the driver corpus: 0.0 @sf0.001,
# 0.0 @sf0.01, 0.008 @sf0.1 — bound 0.05, margins ≥ 0.042
# (deterministic sketch; a flip means a cardinality regime lgConfigK
# can't hold → re-tune the sketch size, not an engine bug).
# ---------------------------------------------------------------------------


@register(
    "sketch_merge_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_batches,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events
GROUP BY event_type
""",
    doc=(
        "[beyond-ref] mergeable-sketch gate: per-day HLL sketches unioned "
        "across batches vs exact distinct, 5% bound asserted in-plan — "
        "the incremental corpus-stats pattern (SURVEY §2.10 sketch tier)"
    ),
)
def sketch_merge_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    per_batch = ev.groupBy("event_type", day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_batch.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_batches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_n_merged"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    j = merged.join(exact, "event_type")
    err = F.abs(F.col("_n_merged") - F.col("n_exact")) / F.col("n_exact")
    return j.select(
        "event_type", "n_batches", "n_exact", (err <= 0.05).alias("within_bound")
    )


# ---------------------------------------------------------------------------
# Weighted sampling [beyond-ref]: Efraimidis–Spirakis weighted
# reservoir sampling made integer-exact — a doc with weight w gets
# priority = MIN of w seeded hashes, so P(priority < t) = 1-(1-t)^w,
# the ES u^(1/w) key discretized WITHOUT transcendentals (POW/LN are
# not correctly-rounded cross-engine; md5 and MIN are bit-identical
# everywhere). Select = global top-k by priority.
#
# Scale shape: the per-doc priority is a NARROW in-row array_min over a
# ≤ w_max-element transform — no explode, no groupBy, no shuffle — and
# the final top-k is Spark's TakeOrdered (per-partition heap + driver
# merge of k·n_partitions rows), never a full sort. Weight here is a
# length bucket (1 + n_chars/64, capped at 8): longer docs sample
# proportionally more, the bounded cap keeps the in-row array small.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 200
_WSAMPLE_CAP = 8


@register(
    "weighted_sample_docs",
    oracle=f"""
SELECT doc_id, CAST(least({_WSAMPLE_CAP}, 1 + n_chars // 64) AS BIGINT) AS weight,
       list_min(list_transform(range(1, 1 + least({_WSAMPLE_CAP}, 1 + n_chars // 64)),
                               c -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(c AS VARCHAR)))) AS pri
FROM documents
ORDER BY pri, doc_id LIMIT {_WSAMPLE_K}
""",
    doc=(
        "[beyond-ref] weighted sampling: Efraimidis-Spirakis via "
        "integer-exact min-of-w-hashes priority (no transcendentals), "
        "zero-shuffle per-doc key + TakeOrdered top-k (SURVEY §2.10 "
        "training-data tier)"
    ),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(_WSAMPLE_CAP), 1 + F.floor(F.col("n_chars") / 64)).cast(
        "long"
    )
    pri = F.array_min(
        F.transform(
            F.sequence(F.lit(1), w),
            lambda c: F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), c.cast("string")
                ).cast("binary")
            ),
        )
    )
    return (
        docs.select("doc_id", w.alias("weight"), pri.alias("pri"))
        .orderBy("pri", "doc_id")
        .limit(_WSAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Vocabulary growth [beyond-ref]: per ingest batch, how many 3-gram
# shingles the batch contributes that NO earlier batch contained — the
# incremental novelty curve a crawl pipeline watches to decide when a
# source is exhausted (new-shingle yield per batch → stop crawling when
# it flattens). first-seen = MIN(batch_id) per shingle, so the whole
# curve is one explode + one shingle-keyed aggregate; the per-batch
# distinct count rides the same exploded frame. doc_id % 5 stands in
# for the batch id, as in the incremental dedup pair queries.
# ---------------------------------------------------------------------------


@register(
    "vocab_growth",
    oracle="""
WITH toks AS (
  SELECT doc_id % 5 AS batch_id,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT batch_id, ARRAY_TO_STRING(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(RANGE(1, LEN(t) - 1)) AS r(i) WHERE LEN(t) >= 3
),
first_seen AS (SELECT shingle, MIN(batch_id) AS fb FROM sh GROUP BY shingle),
new_per_batch AS (
  SELECT fb AS batch_id, COUNT(*) AS n_new_shingles FROM first_seen GROUP BY fb
),
seen_per_batch AS (
  SELECT batch_id, COUNT(DISTINCT shingle) AS n_distinct_shingles
  FROM sh GROUP BY batch_id
)
SELECT s.batch_id, CAST(s.n_distinct_shingles AS BIGINT) AS n_distinct_shingles,
       CAST(COALESCE(n.n_new_shingles, 0) AS BIGINT) AS n_new_shingles
FROM seen_per_batch s LEFT JOIN new_per_batch n ON n.batch_id = s.batch_id
""",
    doc=(
        "[beyond-ref] vocabulary growth: first-seen 3-gram shingles per "
        "ingest batch (crawl-novelty curve) + per-batch distinct count "
        "off one exploded frame (SURVEY §2.10 incremental tier)"
    ),
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("t"), i + j + 1) for j in range(3)]
    )
    sh = (
        docs.select((F.col("doc_id") % 5).alias("batch_id"), toks.alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "batch_id",
            F.explode(
                F.transform(F.sequence(F.lit(0), F.size("t") - 3), gram)
            ).alias("shingle"),
        )
    )
    first_seen = sh.groupBy("shingle").agg(F.min("batch_id").alias("fb"))
    new_per_batch = first_seen.groupBy(F.col("fb").alias("batch_id")).agg(
        F.count("*").alias("n_new_shingles")
    )
    seen_per_batch = sh.groupBy("batch_id").agg(
        F.countDistinct("shingle").cast("long").alias("n_distinct_shingles")
    )
    return seen_per_batch.join(new_per_batch, "batch_id", "left").select(
        "batch_id",
        "n_distinct_shingles",
        F.coalesce(F.col("n_new_shingles"), F.lit(0))
        .cast("long")
        .alias("n_new_shingles"),
    )


# ---------------------------------------------------------------------------
# Embedding health audit [beyond-ref]: per-label norm statistics, zero
# vectors, and dimension consistency — the data-quality gate a vector
# corpus passes before ANN indexing or contrastive training (a drifting
# norm distribution or a stray zero/truncated vector breaks both).
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_audit",
    oracle="""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT label,
         CAST(ROUND(SQRT(LIST_DOT_PRODUCT(v, v)) * 1000) AS BIGINT) AS nq,
         CASE WHEN LIST_DOT_PRODUCT(v, v) = 0 THEN 1 ELSE 0 END AS isz,
         LEN(v) AS dim
  FROM e
),
s AS (
  SELECT label,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(nq) AS BIGINT) AS s1,
         CAST(SUM(nq * nq) AS BIGINT) AS s2,
         CAST(SUM(isz) AS BIGINT) AS n_zero,
         CAST(MIN(dim) AS BIGINT) AS min_dim,
         CAST(MAX(dim) AS BIGINT) AS max_dim
  FROM q GROUP BY label
)
SELECT label, n_vecs,
       ROUND(CAST(s1 AS DOUBLE) / 1000.0 / CAST(n_vecs AS DOUBLE), 6) AS mean_norm,
       ROUND(SQRT(GREATEST(
         CAST(s2 AS DOUBLE) / 1000000.0 / CAST(n_vecs AS DOUBLE)
         - (CAST(s1 AS DOUBLE) / 1000.0 / CAST(n_vecs AS DOUBLE))
           * (CAST(s1 AS DOUBLE) / 1000.0 / CAST(n_vecs AS DOUBLE)), 0.0)), 6)
         AS std_norm,
       n_zero, min_dim, max_dim
FROM s
""",
    doc=(
        "[beyond-ref] embedding health audit: per-label norm mean/std "
        "(milli-quantized integer moments), zero-vector and dimension "
        "checks (SURVEY §2.10 similarity tier)"
    ),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-corpus health: norm mean/std, zero-vector
    count, min/max dimension. Catches the three silent ANN killers —
    norm drift between ingest batches, all-zero rows from failed
    encodes, and ragged dimensions from a schema slip.

    Numeric discipline: each norm is quantized to integer MILLI-units
    (round(‖v‖·1000)) so the per-label first/second moments accumulate
    as exact int64 sums — order-free, no collect_list, map-side
    combined. ‖v‖ itself is bit-identical cross-engine (ordered
    element fold + correctly-rounded sqrt). Bound: nq² ≈ 6.4e7 for
    unit-scale 64-dim vectors → the s2 sum stays inside int64 to
    ~10¹¹ rows per label; past that promote the moments to DECIMAL.

    Scale shape: one narrow pass (dot/sqrt/round per row) into one
    label-keyed hash agg — the corpus shuffles only (label, 3 longs).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    d2 = dot(v, v)
    q = emb.select(
        "label",
        F.round(F.sqrt(d2) * 1000).cast("long").alias("nq"),
        F.when(d2 == 0.0, 1).otherwise(0).alias("isz"),
        # guarded size: Spark's size(NULL) is -1 (legacy) or NULL
        # (ANSI) depending on session config, DuckDB's LEN(NULL) is
        # NULL — pin the null-embedding row to NULL on both engines so
        # MIN/MAX skip it identically
        F.when(
            F.col("embedding").isNotNull(), F.size("embedding")
        ).alias("dim"),
    )
    s = q.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("nq").alias("s1"),
        F.sum(F.col("nq") * F.col("nq")).alias("s2"),
        F.sum("isz").alias("n_zero"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n_vecs", "s1", "s2"))
    mean = s1 / 1000.0 / n
    return s.select(
        "label",
        "n_vecs",
        F.round(mean, 6).alias("mean_norm"),
        F.round(
            F.sqrt(F.greatest(s2 / 1000000.0 / n - mean * mean, F.lit(0.0))), 6
        ).alias("std_norm"),
        "n_zero",
        "min_dim",
        "max_dim",
    )


# ---------------------------------------------------------------------------
# Dedup provenance [beyond-ref]: the cross-source duplication matrix —
# which pairs of ingest sources ship the same exact texts, and how many.
# The diagonal is each source's distinct-text count, so the off-diagonal
# shares read directly as contamination-between-feeds.
# ---------------------------------------------------------------------------


@register(
    "cross_source_dup_matrix",
    oracle="""
WITH d AS (SELECT DISTINCT md5(text) AS th, source FROM documents WHERE text IS NOT NULL)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_texts
FROM d a JOIN d b ON a.th = b.th AND a.source <= b.source
GROUP BY 1, 2
""",
    doc=(
        "[beyond-ref] cross-source duplication matrix: exact-text overlap "
        "counts per source pair (dedup provenance, SURVEY §2.10)"
    ),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much exact-duplicate text flows between ingest sources? For
    every source pair (a ≤ b), the number of distinct text hashes both
    ship; the diagonal (a = b) is the source's own distinct-text
    count. The provenance report that turns a dedup pass into an
    upstream action — a hot off-diagonal cell means one feed mirrors
    another and can be dropped at ingest instead of deduped at scale.

    Scale shape: texts collapse to (hash, source) DISTINCT first (one
    shuffle, 16-byte keys — text never re-shuffles); the self-join is
    hash-keyed, so each group is at most |sources| rows — per-key work
    is bounded-quadratic in the SOURCE count, never in documents. The
    output is ≤ |sources|² rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.where(F.col("text").isNotNull())
        .select(F.md5(F.col("text").cast("binary")).alias("th"), "source")
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.source") <= F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared_texts"))
    )


# ---------------------------------------------------------------------------
# Bitext mining [beyond-ref]: best English counterpart per non-English
# document under the margin criterion (best / second-best cosine) — the
# CCMatrix/LASER-style parallel-corpus mining step of a multilingual
# training pipeline.
# ---------------------------------------------------------------------------


@register(
    "bitext_mining_pairs",
    oracle="""
WITH q AS (
  SELECT d.doc_id AS fr_doc, CAST(e.embedding AS DOUBLE[]) AS v,
         SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.lang = 'fr'
),
t AS (
  SELECT d.doc_id AS en_doc, CAST(e.embedding AS DOUBLE[]) AS v,
         SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.lang = 'en'
),
s AS (
  SELECT q.fr_doc, t.en_doc,
         ROUND(LIST_DOT_PRODUCT(q.v, t.v) / (q.nrm * t.nrm), 6) AS cosine
  FROM q CROSS JOIN t
),
r AS (
  SELECT fr_doc, en_doc, cosine,
         ROW_NUMBER() OVER (PARTITION BY fr_doc ORDER BY cosine DESC, en_doc) AS rk
  FROM s
)
SELECT b.fr_doc, b.en_doc, b.cosine,
       ROUND(b.cosine / NULLIF(s2.cosine, 0), 6) AS margin,
       b.cosine >= 0.0 AND s2.cosine > 0 AND b.cosine * 100 >= s2.cosine * 105
         AS accepted
FROM r b JOIN r s2 ON s2.fr_doc = b.fr_doc AND s2.rk = 2
WHERE b.rk = 1
""",
    doc=(
        "[beyond-ref] bitext mining: best English match per French doc "
        "with the best/second-best margin criterion (CCMatrix-style "
        "parallel-corpus mining, SURVEY §2.10 similarity tier)"
    ),
)
def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every French document, its best English counterpart by
    embedding cosine plus the MARGIN criterion (best / second-best) —
    the score CCMatrix-style mining thresholds on, because a translation
    pair stands OUT from the target corpus while a topical-overlap
    match has near-peers. `accepted` applies a 1.05 margin as
    cos₁·100 ≥ cos₂·105 over the 6-rounded cosines — not integer math,
    but an identical expression tree over bit-identical operands on
    both engines, so the gate decision is deterministic.

    Scale shape: this hash-checked form is the exact argmax over a
    BOUNDED query side (one pivot language) broadcast against the
    target side — the `brute_force_topk` shape; at 100 TB the mining
    side runs through the IVF/LSH ANN tier (same operators as
    `similarity_ivf_recall`) and this exact form becomes the recall
    audit on a sampled slice. The top-2 rank partitions BY QUERY DOC
    (never a global window), and each pair costs one dot product
    (norms precomputed per side).
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    side = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", v.alias("v")
    )
    side = side.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    q = side.where(F.col("lang") == "fr").select(
        F.col("doc_id").alias("fr_doc"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    t = side.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("en_doc"), F.col("v").alias("tv"), F.col("nrm").alias("tn")
    )
    # the |q|·|t| interpreted cosine runs in the target side's stage
    # under the broadcast cross — spread it (the r15 stream-side-spread
    # pattern; brute_force_topk got the same treatment)
    from ..operators.skew import spread_for_compute

    t = spread_for_compute(t)
    s = F.broadcast(q).crossJoin(t).select(
        "fr_doc",
        "en_doc",
        F.round(dot(F.col("qv"), F.col("tv")) / (F.col("qn") * F.col("tn")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("fr_doc").orderBy(F.desc("cosine"), F.asc("en_doc"))
    r = s.select("fr_doc", "en_doc", "cosine", F.row_number().over(w).alias("rk"))
    # top-1 and top-2 folded out of ONE scan of the ranked frame — two
    # rank-filtered branches would duplicate the broadcast-cross
    # subtree and pay the cosine pass twice (plan-audited)
    j = (
        r.where(F.col("rk") <= 2)
        .groupBy("fr_doc")
        .agg(
            F.max(
                F.when(F.col("rk") == 1, F.struct("cosine", "en_doc"))
            ).alias("b"),
            F.max(F.when(F.col("rk") == 2, F.col("cosine"))).alias("cos2"),
        )
        .select(
            "fr_doc",
            F.col("b.en_doc").alias("en_doc"),
            F.col("b.cosine").alias("cosine"),
            "cos2",
        )
        # margin is undefined without a second candidate: a 1-doc
        # target corpus drops out, matching the oracle's inner rk=2 join
        .where(F.col("cos2").isNotNull())
    )
    return j.select(
        "fr_doc",
        "en_doc",
        "cosine",
        F.round(
            F.col("cosine") / F.when(F.col("cos2") != 0.0, F.col("cos2")), 6
        ).alias("margin"),
        (
            (F.col("cosine") >= 0.0)
            & (F.col("cos2") > 0.0)
            & (F.col("cosine") * 100 >= F.col("cos2") * 105)
        ).alias("accepted"),
    )


# ---------------------------------------------------------------------------
# Bitext mining, production-shaped (VERDICT r7 #5): the mining path runs
# through the bucket-local ANN tier (ann_lsh_cosine, the same operator
# similarity_ann_recall gates) instead of broadcasting the whole pivot
# language against the whole target corpus; the exact crossJoin of
# bitext_mining_pairs is demoted to a SAMPLED recall audit (fr_doc %
# stride = 0, budget-strided — the same deterministic-slice pattern
# embedding_near_dup_banded established). Output rows are the exact audit
# slice (SQL-reproducible); the gate column carries the production path's
# health.
#
# Threshold provenance (house discipline): measured candidate recall of
# the driver-sf config (n_planes=6, Hamming radius 4 → probes 57/64 of
# bucket space, still bucket-local) for "exact best en_doc ∈ ANN top-2"
# on this corpus (near-uniform random 64-d — the ANN worst case):
# 1.0 @sf0.001 (18/18), 0.90 @sf0.01 (18/20), 0.9875 @sf0.1 (79/80).
# Floor 0.75 → margins +0.25/+0.15/+0.2375, all >= 0.1. The config is a
# measured LADDER over corpus size (r9, VERDICT r8 #2 — see the in-plan
# comment): n_en >= 4096 switches to (10, 4), which probes 37.7 % of
# bucket space and measured recall 0.82 at 21.8x over exact at the sf1
# rehearsal. Full frontier in tools/tune_bitext_ann.py output,
# reproduced in BENCH_NOTES.md.
# ---------------------------------------------------------------------------

_BITEXT_ANN_RECALL_FLOOR = 0.75

# Audit-slice stride (VERDICT r8 #1): fr_doc % stride = 0 where stride =
# 4 · max(1, ceil(n_docs / 5000)) — exactly 4 at every driver sf
# (500/500/5000 docs → driver hashes unchanged) and 40 at the sf1
# rehearsal (50000 docs), keeping the audited fr-doc count FLAT
# (~|fr|/4 at sf0.1 ≈ 186) at any corpus size. The audit side is then
# broadcast-sample × target corpus — linear in the corpus, never
# quadratic (the r8 rehearsal measured the pinned `% 4` slice growing
# 10× with the corpus, 100× in pair count). Derived in-plan and by the
# same expression in the oracle's scalar subquery.
_BITEXT_AUDIT_DOC_BUDGET = 5000


@register(
    "bitext_mining_ann",
    oracle=f"""
WITH st AS (SELECT 4 * GREATEST(1, CAST(CEIL(COUNT(*) / {_BITEXT_AUDIT_DOC_BUDGET}.0) AS BIGINT)) AS s
            FROM documents),
q AS (
  SELECT d.doc_id AS fr_doc, CAST(e.embedding AS DOUBLE[]) AS v,
         SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  CROSS JOIN st
  WHERE d.lang = 'fr' AND d.doc_id % st.s = 0
),
t AS (
  SELECT d.doc_id AS en_doc, CAST(e.embedding AS DOUBLE[]) AS v,
         SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.lang = 'en'
),
s AS (
  SELECT q.fr_doc, t.en_doc,
         ROUND(LIST_DOT_PRODUCT(q.v, t.v) / (q.nrm * t.nrm), 6) AS cosine
  FROM q CROSS JOIN t
),
r AS (
  SELECT fr_doc, en_doc, cosine,
         ROW_NUMBER() OVER (PARTITION BY fr_doc ORDER BY cosine DESC, en_doc) AS rk
  FROM s
)
SELECT b.fr_doc, b.en_doc, b.cosine,
       ROUND(b.cosine / NULLIF(s2.cosine, 0), 6) AS margin,
       b.cosine >= 0.0 AND s2.cosine > 0 AND b.cosine * 100 >= s2.cosine * 105
         AS accepted,
       TRUE AS ann_recall_ok
FROM r b JOIN r s2 ON s2.fr_doc = b.fr_doc AND s2.rk = 2
WHERE b.rk = 1
""",
    doc=(
        "[beyond-ref] bitext mining via the production ANN tier "
        "(sign-LSH multiprobe candidates, bucket-local) recall-gated "
        "against the exact margin audit on a deterministic fr-doc "
        "sample — the 100 TB-shaped form of bitext_mining_pairs"
    ),
)
def bitext_mining_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining with the scale-path layout: candidate generation is
    ``ann_lsh_cosine`` (sign-bucket equi-join, Hamming-radius-4
    multiprobe — work scales with corpus/buckets, never |fr|·|en|) over
    the FULL pivot side, keeping top-2 per query so the downstream
    margin criterion (best/second-best, as in ``bitext_mining_pairs``)
    applies unchanged to the ANN candidates. The exact broadcast
    crossJoin survives only as the audit: on the deterministic
    budget-strided ``fr_doc % stride = 0`` sample (stride grows with
    corpus size — provenance at ``_BITEXT_AUDIT_DOC_BUDGET``) it
    recomputes the true top-1/top-2 margin rows (the oracle-checked
    output), and ``ann_recall_ok`` reports whether the exact best
    en_doc appeared in the ANN top-2 for >= 75 % of the sample — the
    in-plan health check of the production path (recall provenance in
    the block comment above).

    Scale shape: the ANN side is bucket-local joins only; the audit
    side is broadcast-sample × corpus with the sampled fraction
    shrinking as the corpus grows (the stride derivation), so the
    audited doc count stays flat while the mining path stays linear.
    The top-2 ranks partition BY QUERY DOC (never a global window).
    """
    from ..operators.similarity import ann_lsh_cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    side = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", v.alias("v")
    )
    q_full = side.where(F.col("lang") == "fr").select("doc_id", "v")
    t_full = side.where(F.col("lang") == "en").select("doc_id", "v")

    # ANN config ladder (VERDICT r8 #2) — measured frontier, r9, via
    # tools/tune_bitext_ann.py (recall = exact-best-in-ANN-top-2 on the
    # audit slice; speedups vs the exact crossJoin, both noop-executed):
    #   n_en=808 (sf0.1): (6,4) probes 57/64 = 89 % of bucket space,
    #     recall 0.9875; EVERY sparser config fails the 0.75 floor
    #     (p8r3 0.59, p10r4 0.69, IVF c128p16 0.825 at only 1.9x) — at
    #     sub-4k corpora near-brute-force is simply correct, and (6,4)
    #     keeps the measured driver-sf provenance unchanged
    #     (1.0 / 0.90 / 0.9875 at sf0.001/0.01/0.1).
    #   n_en=8080 (sf1): (10,4) probes 386/1024 = 37.7 %, recall 0.82,
    #     10.0 s vs exact 217.6 s = 21.8x (the r8 finding was (6,4)
    #     degenerating to 89 %-probed near-brute-force there: 46.2 s);
    #     (9,4) = recall 0.90 at 6.0x is the high-recall fallback when
    #     a +0.1 gate margin is required.
    # Caveat (BENCH_NOTES.md): near-uniform random vectors are the ANN
    # worst case — recall tracks probed fraction. The sf1 tiling's
    # shared per-replica jitter adds the mild pair structure real
    # multilingual embeddings have; a NEW corpus tier needs a measured
    # retune (rerun the tuning tool), not a formula extrapolation.
    # The plan STRUCTURE (probe-mask count) depends on the pivot-side
    # cardinality, so unlike the audit stride it cannot ride in-plan:
    # construction counts it in one narrow column-pruned scan.
    n_en = t_full.count()
    n_planes, radius = (6, 4) if n_en < 4096 else (10, 4)

    # production path: bucket-local ANN top-2 per fr doc, full pivot side
    ann = ann_lsh_cosine(
        q_full, t_full, k=2, n_planes=n_planes, dim=64, id_col="doc_id",
        vec_col="v", multiprobe=radius,
    )
    cand = ann.select(
        F.col("query_id").alias("fr_doc"),
        F.col("candidate_id").alias("en_doc"),
        F.lit(1).alias("hit"),
    )

    # audit: exact top-1/top-2 margin on the budget-strided slice
    # (stride derivation + provenance at _BITEXT_AUDIT_DOC_BUDGET)
    astride = docs.agg(
        (
            F.lit(4)
            * F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.count("*") / float(_BITEXT_AUDIT_DOC_BUDGET)).cast("long"),
            )
        ).alias("_astride")
    )
    qs = (
        q_full.crossJoin(F.broadcast(astride))
        .where(F.col("doc_id") % F.col("_astride") == 0)
        .select(F.col("doc_id").alias("fr_doc"), F.col("v").alias("qv"))
        .withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    )
    tt = t_full.select(
        F.col("doc_id").alias("en_doc"), F.col("v").alias("tv")
    ).withColumn("tn", F.sqrt(dot(F.col("tv"), F.col("tv"))))
    s = F.broadcast(qs).crossJoin(tt).select(
        "fr_doc",
        "en_doc",
        F.round(dot(F.col("qv"), F.col("tv")) / (F.col("qn") * F.col("tn")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("fr_doc").orderBy(F.desc("cosine"), F.asc("en_doc"))
    r = s.select("fr_doc", "en_doc", "cosine", F.row_number().over(w).alias("rk"))
    j = (
        r.where(F.col("rk") <= 2)
        .groupBy("fr_doc")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.struct("cosine", "en_doc"))).alias("b"),
            F.max(F.when(F.col("rk") == 2, F.col("cosine"))).alias("cos2"),
        )
        .select(
            "fr_doc",
            F.col("b.en_doc").alias("en_doc"),
            F.col("b.cosine").alias("cosine"),
            "cos2",
        )
        .where(F.col("cos2").isNotNull())
    )
    # gate: exact best in ANN top-2, aggregated over the (small) sample —
    # the unpartitioned window runs over ≤ |sample| rows by construction
    marked = j.join(cand, ["fr_doc", "en_doc"], "left").withColumn(
        "hit", F.coalesce(F.col("hit"), F.lit(0))
    )
    w_all = Window.partitionBy()
    recall = F.sum("hit").over(w_all) / F.count("*").over(w_all)
    return marked.select(
        "fr_doc",
        "en_doc",
        "cosine",
        F.round(
            F.col("cosine") / F.when(F.col("cos2") != 0.0, F.col("cos2")), 6
        ).alias("margin"),
        (
            (F.col("cosine") >= 0.0)
            & (F.col("cos2") > 0.0)
            & (F.col("cosine") * 100 >= F.col("cos2") * 105)
        ).alias("accepted"),
        (recall >= _BITEXT_ANN_RECALL_FLOOR).alias("ann_recall_ok"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility audit [beyond-ref]: bytes-per-token and
# tokens-per-word by language — the multilingual tokenizer-efficiency
# report (a language whose fertility balloons pays more compute per
# character of content and starves in a token-budgeted data mix).
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility",
    oracle="""
WITH t AS (
  SELECT lang,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
           AS bpeish,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT) AS words,
         CAST(strlen(text) AS BIGINT) AS bytes
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(bpeish) AS BIGINT) AS total_tokens,
       CAST(SUM(words) AS BIGINT) AS total_words,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       ROUND(CAST(SUM(bytes) AS DOUBLE) / CAST(SUM(bpeish) AS DOUBLE), 6)
         AS bytes_per_token,
       ROUND(CAST(SUM(bpeish) AS DOUBLE) / CAST(SUM(words) AS DOUBLE), 6)
         AS tokens_per_word
FROM t GROUP BY lang
""",
    doc=(
        "[beyond-ref] tokenizer fertility by language: bytes/token and "
        "tokens/word from integer totals (multilingual efficiency audit, "
        "SURVEY §2.10)"
    ),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-efficiency report: how many UTF-8 bytes
    ride in each BPE-ish token, and how many tokens each whitespace
    word fragments into (same token definition as ``token_count_bpe``).
    High fertility means the language pays more sequence length per
    character of content — exactly what a token-budgeted domain mix
    (``domain_mix_weights``) needs to correct for.

    Scale shape: three per-row counters (regexp count, split-filter
    size, octet_length — all JVM, no explode) into one lang-keyed
    map-side-combined agg; every accumulator is an exact integer and
    the two ratios divide once per output row with identical
    expression trees in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
        ).cast("long").alias("bpeish"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long").alias(
            "words"
        ),
        F.octet_length("text").cast("long").alias("bytes"),
    )
    g = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpeish").alias("total_tokens"),
        F.sum("words").alias("total_words"),
        F.sum("bytes").alias("total_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_words",
        "total_bytes",
        F.round(
            F.col("total_bytes").cast("double") / F.col("total_tokens").cast("double"),
            6,
        ).alias("bytes_per_token"),
        F.round(
            F.col("total_tokens").cast("double") / F.col("total_words").cast("double"),
            6,
        ).alias("tokens_per_word"),
    )


@register(
    "compaction_plan_bins",
    oracle=f"""
WITH s AS (
  SELECT {_SHARD_HASH_DUCK} AS shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS shard_bytes
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(SUM(shard_bytes) AS BIGINT) AS tot FROM s),
c AS (
  SELECT shard_id, n_docs, shard_bytes,
         CAST(SUM(shard_bytes) OVER (ORDER BY shard_id) - shard_bytes AS BIGINT) AS cum_before
  FROM s
)
SELECT c.shard_id, c.n_docs, c.shard_bytes,
       CAST(c.cum_before // GREATEST((t.tot + 5) // 6, 1) AS BIGINT) AS bin_id
FROM c, t
""",
    doc="[beyond-ref] small-files compaction plan: contiguous shards packed into ~equal byte-budget output bins via exclusive prefix sums",
)
def compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction planner's core step: pack the (many, small)
    staging shards into ~6 byte-balanced output bins, preserving shard
    order so each bin is a contiguous id range — what an executor then
    writes as one sequential coalesced file (the manual analog of AQE's
    ``coalescePartitions``, but budgeted in BYTES, which row-count
    coalescing gets wrong under skewed doc lengths).

    bin_id = exclusive_cumulative_bytes // target, target ≈ total/6 —
    pure integer arithmetic on both engines (no float division to
    diverge). The prefix sum rides ``exclusive_prefix_offsets``'s
    array fold because the shard table is bounded by layout design (16
    here); an unbounded FILE manifest would take the same plan through
    ``value_bucketed_prefix_sum`` (key = file path hash order).
    """
    from ..operators.topk import exclusive_prefix_offsets

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        F.expr(_SHARD_HASH_SPARK).cast("long").alias("shard_id"), "n_chars"
    ).groupBy("shard_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("shard_bytes")
    )
    off = exclusive_prefix_offsets(
        s.select("shard_id", "shard_bytes"), "shard_id", "shard_bytes",
        out_col="cum_before",
    )
    t = s.agg(F.sum("shard_bytes").alias("tot"))
    return (
        s.join(off, "shard_id")
        .crossJoin(F.broadcast(t))
        .select(
            "shard_id",
            "n_docs",
            "shard_bytes",
            F.expr("cum_before div greatest((tot + 5) div 6, 1)")
            .cast("long")
            .alias("bin_id"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: the bounded-memory frequency estimator, audited
# against exact counts on the head of the distribution.
# ---------------------------------------------------------------------------

_CM_ROWS = 4
_CM_WIDTH = 256
_CM_HASH_SPARK = (
    "conv(substring(md5(concat(cast({r} AS string), ':', token)), 1, 4), 16, 10)"
    f" % {_CM_WIDTH}"
)
_CM_HASH_DUCK = (
    "CAST('0x' || SUBSTRING(md5(CAST({r} AS VARCHAR) || ':' || token), 1, 4)"
    f" AS BIGINT) % {_CM_WIDTH}"
)


@register(
    "countmin_token_freq",
    oracle=f"""
WITH tk AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tk
  WHERE token <> '' GROUP BY token
),
cells AS (
  SELECT r.r, {_CM_HASH_DUCK.format(r="r.r")} AS b,
         CAST(SUM(n) AS BIGINT) AS counter
  FROM counts, range(0, {_CM_ROWS}) r(r)
  GROUP BY 1, 2
),
top AS (
  SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rk
  FROM counts QUALIFY rk <= 20
)
SELECT t.token, t.n AS exact_n,
       CAST(MIN(c.counter) AS BIGINT) AS cm_estimate,
       CAST(MIN(c.counter) - t.n AS BIGINT) AS overestimate,
       t.rk
FROM top t
JOIN range(0, {_CM_ROWS}) r(r) ON TRUE
JOIN cells c ON c.r = r.r AND c.b = {_CM_HASH_DUCK.format(r="r.r")}
GROUP BY t.token, t.n, t.rk
""",
    doc="[beyond-ref] count-min sketch (4x256, md5 rows) with exact-count audit of the top-20 tokens",
)
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream — the fixed-memory
    frequency estimator a streaming ingest tier runs when the
    vocabulary no longer fits an exact hash agg — audited here against
    exact counts on the top-20 tokens (estimate ≥ exact always; the
    overestimate column IS the collision error, never negative).

    The sketch is built FROM the exact vocabulary frame rather than by
    re-exploding the corpus: incrementing cell (r, h_r(tok)) once per
    occurrence is arithmetically identical to adding the token's total
    count once — same counters, one corpus pass shared with the exact
    side, and the 4×256 cell table is a constant-sized broadcast.
    Row hashes are md5 over a row-salted key (the same cross-engine
    md5-prefix shim as ``shard_manifest``), so both engines place every
    token in identical cells. The top-20 selection rides
    ``bounded_topk`` (TakeOrderedAndProject, total order n DESC, token)
    — no single-partition window over the vocabulary. All outputs are
    integers: nothing to diverge.
    """
    from ..operators.topk import bounded_topk

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    rows = F.explode(F.sequence(F.lit(0), F.lit(_CM_ROWS - 1))).alias("r")
    cells = (
        counts.select(rows, "token", "n")
        .select(
            "r",
            F.expr(_CM_HASH_SPARK.format(r="r")).cast("long").alias("b"),
            "n",
        )
        .groupBy("r", "b")
        .agg(F.sum("n").alias("counter"))
    )
    top = bounded_topk(
        counts,
        20,
        order=[F.col("n").desc(), F.col("token")],
        encode=[
            (-F.col("n")).alias("neg_n"),
            F.col("token").alias("token"),
            F.col("n").alias("n"),
        ],
        fields=["token", "n"],
    )
    probes = top.select(rows, "token", "n", "rk").select(
        "r",
        F.expr(_CM_HASH_SPARK.format(r="r")).cast("long").alias("b"),
        "token",
        "n",
        "rk",
    )
    return (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("token", "n", "rk")
        .agg(F.min("counter").alias("cm_estimate"))
        .select(
            "token",
            F.col("n").alias("exact_n"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).alias("overestimate"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding: the leakage-safe categorical feature.
# ---------------------------------------------------------------------------

_TE_SAMPLE_SPARK = "conv(substring(md5(cast(o_orderkey AS string)), 1, 4), 16, 10) % 100"
_TE_SAMPLE_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 100"


@register(
    "target_encoding_loo",
    oracle=f"""
WITH j AS (
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
seg AS (
  SELECT segment, CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM j GROUP BY segment
),
pri AS (SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS prior FROM seg)
SELECT j.o_orderkey, j.segment,
       ROUND(CAST(j.y AS DOUBLE) / 100.0, 2) AS order_value,
       ROUND(
         ((CAST(seg.s - j.y AS DOUBLE) + 10.0 * pri.prior) / (seg.n + 9)) / 100.0,
         4
       ) AS loo_encoding
FROM j JOIN seg ON j.segment = seg.segment, pri
WHERE {_TE_SAMPLE_DUCK} = 0
""",
    doc="[beyond-ref] leave-one-out smoothed target encoding of market segment vs order value (m=10 prior blend)",
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    leakage-safe way to turn a categorical (market segment) into a
    numeric feature for the model tier: each row's encoding excludes
    its OWN target, enc_i = (S_seg − y_i + m·prior) / (n_seg − 1 + m),
    m = 10, prior = global mean — naive mean encoding leaks the label
    and overfits rare categories; LOO + smoothing fixes both.

    Scale shape: one equi-join builds (row, segment, target); segment
    statistics collapse to |segments| rows and come back as a
    broadcast; the per-row encoding is then a projection — no window,
    no second pass over the fact table. Emitted for a deterministic
    1 % md5 sample of orders (the audit slice; the full-corpus form is
    the same projection without the filter). Exact-cents discipline:
    S and y are integer cents, prior is one double division of exact
    longs, and the encoding is a single shared double tree.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        F.expr(_TE_SAMPLE_SPARK).cast("long").alias("_bucket"),
    )
    seg = j.groupBy("segment").agg(F.sum("y").alias("s"), F.count("*").alias("n"))
    pri = seg.agg(
        (F.sum("s").cast("double") / F.sum("n")).alias("prior")
    )
    enc = (
        (F.col("s") - F.col("y")).cast("double") + F.lit(10.0) * F.col("prior")
    ) / (F.col("n") + F.lit(9))
    return (
        j.where(F.col("_bucket") == 0)
        .join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(pri))
        .select(
            "o_orderkey",
            "segment",
            F.round(F.col("y").cast("double") / 100.0, 2).alias("order_value"),
            F.round(enc / F.lit(100.0), 4).alias("loo_encoding"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter contamination prefilter: the constant-memory membership
# gate, audited against the exact join.
# ---------------------------------------------------------------------------

_BLOOM_M = 65536
_BLOOM_K = 3
_SPLIT_HASH_SPARK = "conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) % 100"
_SPLIT_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
_BLOOM_POS_SPARK = (
    "conv(substring(md5(concat(cast({h} AS string), ':', text)), 1, 4), 16, 10)"
    f" % {_BLOOM_M}"
)
_BLOOM_POS_DUCK = (
    "CAST('0x' || SUBSTRING(md5(CAST({h} AS VARCHAR) || ':' || text), 1, 4)"
    f" AS BIGINT) % {_BLOOM_M}"
)


@register(
    "bloom_filter_fpr",
    oracle=f"""
WITH tr AS (SELECT doc_id, text FROM documents WHERE {_SPLIT_HASH_DUCK} < 80),
te AS (SELECT doc_id, text FROM documents WHERE {_SPLIT_HASH_DUCK} >= 80),
bits AS (
  SELECT DISTINCT {_BLOOM_POS_DUCK.format(h="h.h")} AS pos
  FROM tr, range(0, {_BLOOM_K}) h(h)
),
probe AS (
  SELECT te.doc_id, {_BLOOM_POS_DUCK.format(h="h.h")} AS pos
  FROM te, range(0, {_BLOOM_K}) h(h)
),
hits AS (
  SELECT p.doc_id
  FROM probe p JOIN bits b ON p.pos = b.pos
  GROUP BY p.doc_id HAVING COUNT(*) = {_BLOOM_K}
),
dup AS (
  SELECT DISTINCT te.doc_id FROM te JOIN tr ON te.text = tr.text
),
c AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM te) AS n_test,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_bloom_hits,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS n_true_dups,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
)
SELECT n_test, n_bloom_hits, n_true_dups, n_bits_set,
       CAST(n_bloom_hits - n_true_dups AS BIGINT) AS n_false_positives,
       ROUND(CAST(n_bloom_hits - n_true_dups AS DOUBLE) / (n_test - n_true_dups), 6)
         AS observed_fpr
FROM c
""",
    doc="[beyond-ref] Bloom-filter (64Ki bits, k=3) train-text membership gate probed by the test split, audited against the exact join",
)
def bloom_filter_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination prefilter: set k=3 md5 positions per
    TRAIN text into a 65,536-bit filter, probe every TEST text, and
    audit the hit set against the exact text join — the constant-
    memory first pass a contamination scan (``benchmark_contamination``)
    runs before paying for exact matching. Bloom never misses a true
    duplicate (asserted in tests), so the audit reduces to the
    false-positive rate, reported alongside the fill (n_bits_set) —
    at growing sf the FIXED filter saturates and the observed FPR
    climbs toward 1, which is exactly the sizing lesson: production
    scales m with n (m ≈ −n·ln p/ln²2), this query keeps m constant so
    the differential stays cross-engine-stable.

    Scale shape: the bit set is a ≤ m-row distinct (the filter itself,
    broadcast-eligible by construction); probes explode k=3 rows per
    test doc and equi-join the bit set; the exact side is one
    text-keyed semi-join. All counts integer; one final division.
    """
    docs = load_table(spark, sf_dir, "documents")
    split = F.expr(_SPLIT_HASH_SPARK).cast("long")
    tr = docs.where(split < 80).select("doc_id", "text")
    te = docs.where(split >= 80).select("doc_id", "text")
    hs = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("h")
    bits = (
        tr.select(hs, "text")
        .select(F.expr(_BLOOM_POS_SPARK.format(h="h")).cast("long").alias("pos"))
        .distinct()
    )
    probe = te.select(hs, "doc_id", "text").select(
        "doc_id", F.expr(_BLOOM_POS_SPARK.format(h="h")).cast("long").alias("pos")
    )
    hits = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_k"))
        .where(F.col("_k") == _BLOOM_K)
    )
    dup = te.join(tr.select("text"), "text", "left_semi").select("doc_id").distinct()
    c = (
        te.agg(F.count("*").alias("n_test"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_bloom_hits"))))
        .crossJoin(F.broadcast(dup.agg(F.count("*").alias("n_true_dups"))))
        .crossJoin(F.broadcast(bits.agg(F.count("*").alias("n_bits_set"))))
    )
    return c.select(
        "n_test",
        "n_bloom_hits",
        "n_true_dups",
        "n_bits_set",
        (F.col("n_bloom_hits") - F.col("n_true_dups")).alias("n_false_positives"),
        F.round(
            (F.col("n_bloom_hits") - F.col("n_true_dups")).cast("double")
            / (F.col("n_test") - F.col("n_true_dups")),
            6,
        ).alias("observed_fpr"),
    )


# ---------------------------------------------------------------------------
# Cross-language vocabulary overlap: corpus-comparison Jaccard matrix.
# ---------------------------------------------------------------------------


@register(
    "vocab_overlap_matrix",
    oracle="""
WITH lt AS (
  SELECT DISTINCT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
  FROM documents
),
lt2 AS (SELECT lang, token FROM lt WHERE token <> ''),
sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS vsize FROM lt2 GROUP BY lang),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM lt2 a JOIN lt2 b ON a.token = b.token AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT i.lang_a, i.lang_b, sa.vsize AS vocab_a, sb.vsize AS vocab_b, i.n_shared,
       ROUND(CAST(i.n_shared AS DOUBLE) / (sa.vsize + sb.vsize - i.n_shared), 6)
         AS jaccard
FROM inter i
JOIN sz sa ON sa.lang = i.lang_a
JOIN sz sb ON sb.lang = i.lang_b
""",
    doc="[beyond-ref] pairwise vocabulary Jaccard between languages — loanword/contamination signal for the lang-ID tier",
)
def vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between every language pair — high overlap
    between two labels means either heavy loanword traffic or lang-ID
    mislabeling (the corpus-level companion of ``lang_id_confusion``,
    which audits per-DOC labels; this audits the LEXICONS they imply).

    Scale shape: the corpus collapses to distinct (lang, token) at the
    first agg — the self-join is then token-keyed with per-token fanout
    bounded by the language count (each token exists once per lang), so
    pair expansion is ≤ C(|langs|,2) per token, never quadratic in
    rows. Sizes come back via two broadcast-sized dim joins; Jaccard is
    one division of exact longs.
    """
    docs = load_table(spark, sf_dir, "documents")
    lt = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    sz = lt.groupBy("lang").agg(F.count("*").alias("vsize"))
    a, b = lt.alias("a"), lt.alias("b")
    inter = (
        a.join(b, "token")
        .where(F.col("a.lang") < F.col("b.lang"))
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sz.select(F.col("lang").alias("lang_a"), F.col("vsize").alias("vocab_a"))),
            "lang_a",
        )
        .join(
            F.broadcast(sz.select(F.col("lang").alias("lang_b"), F.col("vsize").alias("vocab_b"))),
            "lang_b",
        )
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding second-moment audit [beyond-ref]: the covariance/correlation
# structure of an embedding column — the statistic whitening, PCA
# dimension-choice, and anisotropy checks start from (a collapsed or
# highly-correlated pair of dimensions means wasted index capacity in
# every ANN structure downstream).
# ---------------------------------------------------------------------------


@register(
    "embedding_covariance_audit",
    oracle="""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
e AS (
  SELECT UNNEST(flatten(list_transform(q, (xi, i1) ->
           list_transform(q[i1:], (xj, j2) ->
             struct_pack(pid := (i1 - 1) * 64 + (i1 - 1) + (j2 - 1),
                         xy := xi * xj, xi := xi, xj := xj))))) AS s
  FROM q
),
g AS (
  SELECT s.pid AS pid, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s.xy) AS BIGINT) AS sxy,
         CAST(SUM(s.xi) AS BIGINT) AS sx,
         CAST(SUM(s.xj) AS BIGINT) AS sy
  FROM e GROUP BY 1
),
cv AS (
  SELECT CAST(pid // 64 AS BIGINT) AS dim_i, CAST(pid % 64 AS BIGINT) AS dim_j,
         (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000000000.0 AS cov
  FROM g
),
dg AS (SELECT dim_i AS d, cov AS var FROM cv WHERE dim_i = dim_j),
offd AS (
  SELECT cv.dim_i, cv.dim_j, cv.cov,
         cv.cov / SQRT(di.var * dj.var) AS corr
  FROM cv JOIN dg di ON di.d = cv.dim_i JOIN dg dj ON dj.d = cv.dim_j
  WHERE cv.dim_i < cv.dim_j
)
SELECT dim_i, dim_j, ROUND(cov, 6) AS cov, ROUND(corr, 6) AS corr,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(corr) DESC, dim_i, dim_j) AS rk
  FROM offd
) WHERE rk <= 10
""",
    doc=(
        "[beyond-ref] embedding covariance/correlation audit: exact "
        "second moments of the 64-d embedding column via one "
        "pair-exploded map-side-combined agg; top-10 most-correlated "
        "dimension pairs (whitening/PCA precheck)"
    ),
)
def embedding_covariance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 most-correlated embedding dimension pairs, with exact
    covariance and Pearson correlation — the anisotropy audit run
    before whitening/PCA or trusting an ANN index (two collinear
    dimensions contribute one dimension of discrimination at two
    dimensions of cost).

    Exactness: components quantize to integer micro-units, so Σxᵢxⱼ,
    Σxᵢ, Σxⱼ are exact longs (|x| < 1 → |q| < 10⁶, pair products
    < 10¹²; int64 holds Σ to ~9·10⁶ audit rows — promote to DECIMAL
    sums past that, same discipline as the Gini note). cov/corr then
    form in ONE identical double expression per engine, and the
    ranking orders by |corr| with a full (dim_i, dim_j) tiebreak.

    Scale shape: the moment accumulation runs as ``mapInArrow`` — each
    Arrow batch of quantized rows becomes ONE int64 BLAS product
    (Xᵀ X on the b×64 batch, exact integer arithmetic, so partial
    sums are associative and partition order is irrelevant) emitted as
    2080 partial-moment rows; the groupBy(pid) agg then shuffles 2080
    rows per batch regardless of corpus size, and everything after is
    a 2080-row frame (self-joined to its 64-row diagonal for the
    variances). The pure-DataFrame equivalent (explode into d(d+1)/2
    pair structs, map-side-combined agg — the form the oracle mirrors)
    computes identical values but measured 23 s vs ~1 s at sf1: the d²
    blowup belongs in vectorized FLOPs, not in codegen'd struct rows.
    The quantization happens JVM-side BEFORE the Arrow boundary, so
    exactness is defined once for both the fast path and the oracle.
    """
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    qdf = emb.select(q.alias("q"))

    def _moments(batches):
        import numpy as np

        iu = np.triu_indices(64)
        pid = (iu[0] * 64 + iu[1]).astype("int64")
        for batch in batches:
            col = batch.column(0)
            b = len(col)
            if b == 0:
                continue
            flat = col.flatten()
            vals = flat.to_numpy(zero_copy_only=False).astype("int64")
            if vals.shape[0] == b * 64:
                X = vals.reshape(b, 64)
            else:  # offset/null-bearing chunk: row-wise fallback
                X = np.array(col.to_pylist(), dtype="int64")
            S = X.T @ X
            sx = X.sum(axis=0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pid),
                    pa.array(np.full(pid.shape, b, dtype="int64")),
                    pa.array(S[iu]),
                    pa.array(sx[iu[0]]),
                    pa.array(sx[iu[1]]),
                ],
                names=["pid", "n", "sxy", "sx", "sy"],
            )

    partial = qdf.mapInArrow(_moments, "pid long, n long, sxy long, sx long, sy long")
    # the 2080-row moment table feeds the diagonal (twice, via the two
    # broadcast variance joins) AND the off-diagonal branch — checkpoint
    # lazily so the batch-moment pass runs once, not three times
    g = partial.groupBy("pid").agg(
        F.sum("n").alias("n"),
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
    ).localCheckpoint(eager=False)
    nD = F.col("n").cast("double")
    cov = (
        F.col("sxy").cast("double") / nD
        - (F.col("sx").cast("double") / nD) * (F.col("sy").cast("double") / nD)
    ) / F.lit(1000000000000.0)
    cv = g.select(
        (F.col("pid") / 64).cast("long").alias("dim_i"),
        (F.col("pid") % 64).cast("long").alias("dim_j"),
        cov.alias("cov"),
    )
    dg = cv.where(F.col("dim_i") == F.col("dim_j")).select(
        F.col("dim_i").alias("d"), F.col("cov").alias("var")
    )
    offd = (
        cv.where(F.col("dim_i") < F.col("dim_j"))
        .join(F.broadcast(dg.withColumnRenamed("d", "di").withColumnRenamed("var", "vi")), F.col("dim_i") == F.col("di"))
        .join(F.broadcast(dg.withColumnRenamed("d", "dj").withColumnRenamed("var", "vj")), F.col("dim_j") == F.col("dj"))
        .select(
            "dim_i",
            "dim_j",
            "cov",
            (F.col("cov") / F.sqrt(F.col("vi") * F.col("vj"))).alias("corr"),
        )
    )
    from ..operators.topk import bounded_topk

    top = bounded_topk(
        offd,
        10,
        order=[F.abs(F.col("corr")).desc(), F.col("dim_i"), F.col("dim_j")],
        encode=[
            (-F.abs(F.col("corr"))).alias("neg_a"),
            F.col("dim_i").alias("dim_i"),
            F.col("dim_j").alias("dim_j"),
            F.col("cov").alias("cov"),
            F.col("corr").alias("corr"),
        ],
        fields=["dim_i", "dim_j", "cov", "corr"],
    )
    return top.select(
        "dim_i",
        "dim_j",
        F.round("cov", 6).alias("cov"),
        F.round("corr", 6).alias("corr"),
        F.col("rk"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring audit [beyond-ref]: the substring-level
# exact-dedup probe ("Deduplicating Training Data Makes Language Models
# Better", Lee et al. 2022, arXiv:2107.06499 — the ExactSubstr
# criterion). Full suffix-array ExactSubstr is sequential; the
# distributed form probes a geometric ladder of window lengths: a doc
# has a duplicated run of >= L chars iff one of its L-windows appears
# verbatim in another doc, and probing L in {16,32,64,128} brackets the
# true max duplicated-run length within a factor of 2.
# ---------------------------------------------------------------------------

_DUP_SUBSTR_LENGTHS = (16, 32, 64, 128)


def _dup_substring_hist(docs: DataFrame) -> DataFrame:
    """Shared body of ``duplicate_substring_audit`` (full corpus) and
    ``duplicate_substring_audit_sliced`` (declared md5 40 % doc slice —
    the bench-cadence form, VERDICT r8 #5): per-doc max duplicated
    window length over the hierarchical in-row hash ladder,
    histogrammed. ``docs`` = (doc_id, text)."""
    from ..operators.skew import spread_for_compute

    # the per-position xxhash ladder (one hash per character position,
    # ×4 levels) runs in the scan stage; a single-row-group local scan
    # serializes it on one core (guide §2.5 input skew — no-op at scale)
    docs = spread_for_compute(docs)
    n = F.length("text")
    empty = F.array().cast("array<bigint>")

    def base16(col):
        seq = F.sequence(F.lit(1), n - F.lit(15))
        return F.when(
            n >= 16,
            F.transform(seq, lambda p: F.xxhash64(F.substring(col, p, 16))),
        ).otherwise(empty)

    def doubled(prev, step):
        m = F.size(prev) - F.lit(step)
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.xxhash64(
                    F.element_at(prev, i), F.element_at(prev, i + F.lit(step))
                ),
            ),
        ).otherwise(empty)

    t = (
        docs.withColumn("h16", base16(F.col("text")))
        .withColumn("h32", doubled(F.col("h16"), 16))
        .withColumn("h64", doubled(F.col("h32"), 32))
        .withColumn("h128", doubled(F.col("h64"), 64))
    )

    def level_structs(L):
        # single-arg lambda on purpose: a 2-arg transform lambda would
        # bind the second parameter to the ELEMENT INDEX
        return F.transform(
            F.col(f"h{L}"),
            lambda h: F.struct(F.lit(L).cast("int").alias("L"), h.alias("h")),
        )

    levels = F.flatten(F.array(*[level_structs(L) for L in _DUP_SUBSTR_LENGTHS]))
    sh = (
        t.select("doc_id", F.explode(levels).alias("w"))
        .select("doc_id", "w.L", "w.h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    dup = (
        sh.groupBy("L", "h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("L", "h")
    )
    hit = (
        sh.join(dup, ["L", "h"], "left_semi")
        .groupBy("doc_id")
        .agg(F.max("L").alias("max_dup_len"))
    )
    per = docs.select("doc_id").join(hit, "doc_id", "left").select(
        F.coalesce(F.col("max_dup_len"), F.lit(0)).cast("long").alias("max_dup_len")
    )
    return per.groupBy("max_dup_len").agg(F.count("*").alias("n_docs"))


@register(
    "duplicate_substring_audit",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, L
  FROM documents, UNNEST({list(_DUP_SUBSTR_LENGTHS)}) AS t(L)
  WHERE LENGTH(text) >= L
),
pos_t AS (
  SELECT doc_id, L, text,
         UNNEST(range(1, LENGTH(text) - L + 2)) AS pos
  FROM d
),
sh AS (
  SELECT DISTINCT doc_id, L,
         md5(substring(text, CAST(pos AS INTEGER), CAST(L AS INTEGER))) AS h
  FROM pos_t
),
dup AS (SELECT L, h FROM sh GROUP BY L, h HAVING COUNT(*) >= 2),
hit AS (
  SELECT s.doc_id, MAX(s.L) AS max_dup_len
  FROM sh s JOIN dup USING (L, h) GROUP BY s.doc_id
),
per AS (
  SELECT dd.doc_id, COALESCE(h.max_dup_len, 0) AS max_dup_len
  FROM (SELECT doc_id FROM documents) dd LEFT JOIN hit h USING (doc_id)
)
SELECT CAST(max_dup_len AS BIGINT) AS max_dup_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per GROUP BY 1
""",
    doc=(
        "[beyond-ref] exact duplicated-substring audit (ExactSubstr "
        "probe, Lee et al. 2022): per-doc max window length L in "
        "{16,32,64,128} whose text appears verbatim in another doc, "
        "histogrammed"
    ),
)
def duplicate_substring_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of docs by the longest probed window length (16/32/64/
    128 chars) duplicated verbatim in ANOTHER document — the corpus-
    level ExactSubstr health metric (how much literal copying the
    near-dup tiers above would miss or underweight).

    Semantics: a doc counts at level L if ANY of its L-char windows
    (every start position, character-based in both engines) equals any
    window of a different doc; max over L; 0 = no duplicated window at
    even the shortest probe.

    Window identity is by hash — xxhash64 on the Spark side (8-byte
    shuffle/agg keys; the md5-string form measured ~4× heavier and
    tripped AGGREGATE_OUT_OF_MEMORY in a vanilla 1 GiB session at
    sf0.1), md5 in the DuckDB oracle. The engines need NOT agree on
    the hash function — the differential compares only the final
    histogram, which matches unless a same-length hash collision pairs
    two UNEQUAL windows across docs (~(4C)²/2⁶⁵ ≈ 10⁻⁶ at sf0.1, and
    deterministic either way).

    Scale shape (r8 rewrite, measured 136.8 s → see BENCH_NOTES at
    sf1): window hashes build HIERARCHICALLY inside each row — the
    base h16 array hashes every 16-char window once, then each doubled
    level pairs adjacent hashes (h32[p] = hash(h16[p], h16[p+16]), so
    an L-window's hash is equal across docs iff the underlying text
    is, modulo the same collision argument) — no 32/64/128-char
    substring is ever materialized. The per-(L, h) duplicated-window
    set is ONE count_distinct(doc_id) groupBy (map-side partial
    distinct; replaces the old separate 4C-row DISTINCT shuffle +
    checkpoint, whose cached blocks were most of the memory bill), and
    membership joins back hash-keyed (left_semi — never a text-payload
    shuffle). At 100 TB, additionally shard the (L, h) space; the plan
    shape is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _dup_substring_hist(docs)


@register(
    "duplicate_substring_audit_sliced",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 5 < 2
),
d AS (
  SELECT doc_id, text, L
  FROM docs, UNNEST({list(_DUP_SUBSTR_LENGTHS)}) AS t(L)
  WHERE LENGTH(text) >= L
),
pos_t AS (
  SELECT doc_id, L, text,
         UNNEST(range(1, LENGTH(text) - L + 2)) AS pos
  FROM d
),
sh AS (
  SELECT DISTINCT doc_id, L,
         md5(substring(text, CAST(pos AS INTEGER), CAST(L AS INTEGER))) AS h
  FROM pos_t
),
dup AS (SELECT L, h FROM sh GROUP BY L, h HAVING COUNT(*) >= 2),
hit AS (
  SELECT s.doc_id, MAX(s.L) AS max_dup_len
  FROM sh s JOIN dup USING (L, h) GROUP BY s.doc_id
),
per AS (
  SELECT dd.doc_id, COALESCE(h.max_dup_len, 0) AS max_dup_len
  FROM (SELECT doc_id FROM docs) dd LEFT JOIN hit h USING (doc_id)
)
SELECT CAST(max_dup_len AS BIGINT) AS max_dup_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per GROUP BY 1
""",
    doc=(
        "[beyond-ref] ExactSubstr duplicated-window audit on the declared "
        "md5 40% doc slice — the bench-cadence form of "
        "duplicate_substring_audit (same ladder, same plan, cost "
        "proportionate to the slice)"
    ),
)
def duplicate_substring_audit_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``duplicate_substring_audit`` on the declared md5 40 % doc slice
    (the ``jaccard_prefix_join`` precedent, VERDICT r8 #5): identical
    hierarchical-hash plan, duplicated-window membership evaluated
    WITHIN the slice, oracle sliced identically — exact on the declared
    population. The full-corpus form stays registered (oracle-soaked at
    the small sfs) but leaves the sf0.1 bench cadence, where its exact
    probe was 7 % of the whole suite for one audit."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(
            F.expr(
                "conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)"
            ).cast("long")
            % 5
            < 2
        )
        .select("doc_id", "text")
    )
    return _dup_substring_hist(docs)


# ---------------------------------------------------------------------------
# Winnowing fingerprints [beyond-ref]: the MOSS document-fingerprinting
# algorithm (Schleimer, Wilkerson, Aiken, SIGMOD 2003) — the principled
# SCALE path for substring-level dedup that duplicate_substring_audit's
# exact ladder audits: selecting the min k-gram hash in every window of
# w consecutive positions guarantees that any verbatim match of length
# >= w + k − 1 shares at least one fingerprint, while keeping ~2/(w+1)
# of the positions instead of all of them.
# (The _WINNOW_* constants live next to corpus_clean_decisions, whose
# oracle also interpolates them — the substring tier feeds cleaning.)
# ---------------------------------------------------------------------------


@register(
    "winnowing_candidate_pairs",
    oracle=f"""
WITH {_WINNOW_CTES}
SELECT doc_a, doc_b, n_shared FROM wpairs
""",
    doc=(
        "[beyond-ref] winnowing fingerprint candidate pairs (MOSS, "
        "SIGMOD'03): min-hash-per-window document fingerprints with the "
        "guarantee that any verbatim match >= w+k-1 chars shares one; "
        "DF-capped fingerprint join"
    ),
)
def winnowing_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-verbatim document pairs by shared winnowing
    fingerprints — the MOSS selection: hash every k=16-gram, keep the
    MIN hash of each window of w=8 consecutive positions. Any verbatim
    match of length >= w+k−1 = 23 chars shares a fingerprint
    (guaranteed); reporting pairs with >= 2 shared fingerprints trades
    that guarantee up slightly for precision. This is the linear-work
    production tier whose recall the exact ladder
    (``duplicate_substring_audit``) audits.

    Cross-engine determinism: the hash is the first 15 hex chars of
    md5 as int64 (< 2⁶⁰ — identical in both engines), so the MIN
    selection picks the SAME k-grams everywhere; counts of shared
    fingerprints are then exact integers. Fingerprints in more than
    50 docs are dropped before the self-join (boilerplate
    suppression AND the hot-key cap — the same discipline as the
    minhash band join; the cap is part of the declared semantics, not
    a silent truncation, and the oracle applies it identically).

    Scale shape: fingerprint construction is per-row array work (no
    shuffle); per-doc DISTINCT fingerprints shrink to ~2/(w+1) of
    positions; the DF cap bounds every fingerprint's join fanout so the
    self-join is sum-of-df² over kept fingerprints — never O(docs²).
    """
    from ..operators.dedup import winnowing_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnowing_pairs(
        docs,
        k=_WINNOW_K,
        w=_WINNOW_W,
        df_cap=_WINNOW_DF_CAP,
        min_shared=_WINNOW_MIN_SHARED,
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join [beyond-ref]: the PPJoin-family
# technique (Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity
# Search"; Xiao et al. PPJoin) — exact Jaccard >= τ document pairs
# WITHOUT a DF cap and WITHOUT candidate loss. Order every doc's token
# set by ascending global document frequency; a pair with J >= τ MUST
# share a token in each side's first |T| − ceil(τ·|T|) + 1 tokens, so
# joining only on those prefix tokens (the RAREST ones — small fanout
# by construction) is a complete candidate generator; exact integer
# verification then keeps true pairs only. This upgrades the DF-capped
# ngram tier from "declared-cap recall" to "guaranteed recall".
#
# τ = 9/10 and a BANDED-HISTOGRAM output: this synthetic corpus is
# template-generated and massively self-similar (measured 8.9M true
# pairs at τ=0.5, 3.0M at τ=0.8, 0.96M at τ=0.9 at sf0.1) — the qualifying-pair SET is
# inherently quadratic in dup-cluster size, so the product shape is the
# distribution, not the list (the pair list is `out` one filter before
# the final agg for consumers that want it).
# ---------------------------------------------------------------------------


@register(
    "jaccard_prefix_join",
    oracle="""
WITH st AS (SELECT 8 * GREATEST(1, CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT)) AS k
            FROM documents),
docs AS (
  SELECT doc_id, text FROM documents CROSS JOIN st
  WHERE CAST('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % st.k < 2
),
tok AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM docs)
  WHERE t <> ''
),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS d FROM tok GROUP BY token),
r AS (
  SELECT tok.doc_id, tok.token,
         ROW_NUMBER() OVER (PARTITION BY tok.doc_id ORDER BY df.d, tok.token) AS rnk,
         COUNT(*) OVER (PARTITION BY tok.doc_id) AS sz
  FROM tok JOIN df USING (token)
),
pref AS (
  SELECT doc_id, token FROM r
  WHERE rnk <= sz - ((9 * sz + 9) // 10) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
),
arrs AS (
  SELECT doc_id, LIST(token ORDER BY token) AS ts,
         CAST(COUNT(*) AS BIGINT) AS s
  FROM tok GROUP BY doc_id
),
scored AS (
  SELECT CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS ints,
         a.s AS sa, b.s AS sb
  FROM cand c JOIN arrs a ON a.doc_id = c.doc_a
              JOIN arrs b ON b.doc_id = c.doc_b
),
pairs AS (
  SELECT ints, sa + sb - ints AS uni
  FROM scored WHERE 19 * ints >= 9 * (sa + sb)
)
SELECT CAST((20 * ints) // uni AS BIGINT) AS band_20th,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
""",
    doc=(
        "[beyond-ref] prefix-filtered exact set-similarity join "
        "(PPJoin/All-Pairs): every Jaccard >= 0.9 doc pair found via "
        "rare-token prefixes (complete, no DF cap), histogrammed by "
        "1/20th Jaccard band"
    ),
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of document pairs with token-set Jaccard >= 0.9 —
    EXACT and COMPLETE, no sampling, no DF cap. Canonical token order
    is (global df asc, token): a pair with J >= τ must share a token
    inside each side's first |T| − ceil(τ|T|) + 1 tokens (prefix-filter
    theorem), so candidates come from an equi-join on prefix tokens
    only; because the canonical order puts RARE tokens first, prefix
    fanout is small by construction — the frequent-token quadratic the
    DF-capped tiers truncate never enters the plan. Verification is the
    integer cross-multiplied test 19·|A∩B| >= 9·(|A|+|B|) (τ = 9/10
    exact, no float thresholding), and the band index floor(20·J) is
    exact integer division; completeness is property-tested against
    brute force in tests/test_dedup_caps.py.

    Scale shape: token explode → distinct (the corpus collapses to the
    (doc, token) incidence), df agg carries the vocabulary; per-doc
    rank windows partition BY DOC (bounded by the doc's token count);
    the candidate join's fanout is Σ_prefix-token df² over rare tokens;
    verification intersects the two per-doc sorted token arrays inside
    each candidate row (array_intersect — no token-keyed re-join);
    the qualifying-pair set (quadratic in dup-cluster size
    on a self-similar corpus — measured 0.96M pairs at sf0.1) collapses
    to the ≤5-row band histogram at the final agg. At larger τ the
    prefix shortens and the join gets cheaper — the knob scales the
    right way.

    Driver-scale slice: this corpus is template-generated, so the TRUE
    >= τ pair mass is quadratic in dup-cluster size no matter the
    algorithm (0.96M pairs at τ=0.9 full-corpus) — the registered form
    runs on a declared md5 doc slice to keep the soak/bench-cadence
    cost proportionate (cost scales with the slice squared). The slice
    modulus is BUDGET-DERIVED (md5 % k < 2 with k = 8·max(1,
    ceil(n_docs/5000)), the same corpus-size stride discipline as the
    embedding/bitext audits): 25 % ≈ 125 docs at sf0.001/0.01, 25 %
    ≈ 1250 docs at sf0.1, 2.5 % ≈ 1250 docs at the sf1 rehearsal —
    the sliced-doc budget is flat (≈ 1250) at every sf ≥ 0.1.
    Provenance: BENCH_SF1_r09's gate caught the r8 pinned 40 % slice
    going 33× for 10× data (tiled dup clusters make the slice's
    true-pair mass quadratic in corpus size); r9 budget-derived the
    sf1 form only, leaving sf0.1 at 40 % = 14.55 s — 8.5 % of the
    bench suite for one query (VERDICT r9 #5); r10 moved the budget
    into the shared modulus (measured at sf0.1: 40 % = 10.5 s idle,
    25 % = 4.4 s, pair mass 158k → 66k). Derived in-plan (1-row
    broadcast) and by the same scalar subquery in the oracle. The
    construction itself is corpus-complete; completeness is
    property-tested against brute force on unsliced corpora.
    """
    all_docs = load_table(spark, sf_dir, "documents")
    kmod = all_docs.agg(
        (
            F.lit(8)
            * F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.count("*") / 5000.0).cast("long"),
            )
        ).alias("_kmod")
    )
    docs = (
        all_docs.crossJoin(F.broadcast(kmod))
        .where(
            F.expr(
                "conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)"
            ).cast("long")
            % F.col("_kmod")
            < 2
        )
        .select("doc_id", "text")
    )
    from ..operators.dedup import jaccard_prefix_pairs

    # broadcast_verify=True is the DRIVER-SCALE call: the sliced per-doc
    # token-array frame (≈1250 docs) fits the driver by construction. A
    # 100 TB caller keeps the scale-safe default (False → hash join,
    # AQE may still broadcast) — see the operator's contract comment.
    scored = jaccard_prefix_pairs(
        docs, tau_num=9, tau_den=10, broadcast_verify=True
    )
    pairs = scored.select(
        "ints", (F.col("sa") + F.col("sb") - F.col("ints")).alias("uni")
    )
    band = F.expr("(20 * ints) div uni").cast("long")
    return pairs.groupBy(band.alias("band_20th")).agg(
        F.count("*").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# Code-switching audit [beyond-ref]: per-SENTENCE language ID vs the
# document label — multilingual corpora carry mixed-language documents
# (quotes, code-switching, boilerplate in a second language), and a
# doc-level lang label silently mislabels those sentences for any
# monolingual downstream filter or per-language token budget.
# ---------------------------------------------------------------------------


@register(
    "code_switching_audit",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang, sid, sentence FROM (
    SELECT doc_id, lang,
           UNNEST(STRING_SPLIT_REGEX(text, '[.!?]+[ ]+')) AS sentence,
           UNNEST(range(1, LEN(STRING_SPLIT_REGEX(text, '[.!?]+[ ]+')) + 1)) AS sid
    FROM documents)
  WHERE TRIM(sentence) <> ''
),
tok AS (
  SELECT doc_id, lang, sid, UNNEST(STRING_SPLIT(sentence, ' ')) AS token FROM s
),
m(token, marker_lang) AS (VALUES {_MARKER_VALUES}),
v AS (
  SELECT doc_id, lang, sid, marker_lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok JOIN m USING (token) GROUP BY doc_id, lang, sid, marker_lang
),
p AS (
  SELECT doc_id, lang, MIN(struct_pack(nc := -c, ml := marker_lang)) AS b
  FROM v GROUP BY doc_id, lang, sid
),
per AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_cls,
         CAST(SUM(CASE WHEN b.ml <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
  FROM p GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_cls) AS BIGINT) AS n_sentences_classified,
       CAST(SUM(n_mis) AS BIGINT) AS n_mismatch,
       ROUND(CAST(SUM(n_mis) AS DOUBLE) / CAST(SUM(n_cls) AS DOUBLE), 6)
         AS mixed_rate,
       CAST(SUM(CASE WHEN n_mis > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_switch
FROM per GROUP BY lang
""",
    doc=(
        "[beyond-ref] code-switching audit: per-sentence marker-vote "
        "language vs the document label — mixed-language rate per "
        "labeled language (multilingual corpus health)"
    ),
)
def code_switching_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per labeled language: how many sentences inside its documents
    classify as a DIFFERENT language under the same marker-vote scorer
    the doc-level ``lang_id_heuristic`` uses — the code-switching /
    embedded-boilerplate rate a per-language token budget needs to
    correct for. Sentences with zero marker hits are unclassified and
    excluded (no evidence, no verdict).

    Determinism: the per-sentence argmax is ``min(struct(-votes,
    marker_lang))`` — exact integer votes, lexicographic tiebreak,
    identical in both engines; ``mixed_rate`` divides two exact long
    sums once. Sentence splitting uses the same lookbehind-free
    ``[.!?]+[ ]+`` delimiter as the readability query.

    Scale shape: sentence + token explode is narrow; the only
    data-sized shuffle is the (doc, sentence, marker_lang)-keyed vote
    agg (map-side combinable, key space bounded by sentences ×
    |langs|); everything above that is |docs|- then |langs|-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    markers = spark.createDataFrame(_LANG_MARKERS, ["token", "marker_lang"])
    s = (
        docs.select(
            "doc_id",
            "lang",
            F.posexplode(F.split(F.col("text"), r"[.!?]+[ ]+")).alias(
                "sid", "sentence"
            ),
        )
        .where(F.trim(F.col("sentence")) != "")
    )
    tok = s.select(
        "doc_id", "lang", "sid", F.explode(F.split("sentence", " ")).alias("token")
    )
    v = (
        tok.join(F.broadcast(markers), "token")
        .groupBy("doc_id", "lang", "sid", "marker_lang")
        .agg(F.count("*").alias("c"))
    )
    p = v.groupBy("doc_id", "lang", "sid").agg(
        F.min(
            F.struct((-F.col("c")).alias("nc"), F.col("marker_lang").alias("ml"))
        ).alias("b")
    )
    per = p.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_cls"),
        F.sum(F.when(F.col("b.ml") != F.col("lang"), 1).otherwise(0)).alias(
            "n_mis"
        ),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_cls").alias("n_sentences_classified"),
        F.sum("n_mis").alias("n_mismatch"),
        F.round(
            F.sum("n_mis").cast("double") / F.sum("n_cls").cast("double"), 6
        ).alias("mixed_rate"),
        F.sum(F.when(F.col("n_mis") > 0, 1).otherwise(0)).alias(
            "n_docs_with_switch"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash accuracy audit [beyond-ref]: the recall gates above answer
# "did the sketch FIND the pairs"; this answers "how well does the
# sketch ESTIMATE the similarity" — the error histogram of the k=16
# match-fraction estimator vs exact shingle Jaccard over the banded
# candidates. E[matches/k] = J exactly (Broder), sd = sqrt(J(1-J)/k)
# ≈ 0.125 at k=16 — the histogram makes the variance visible, which is
# what justifies (or indicts) thresholding decisions made on sketches.
# ---------------------------------------------------------------------------

_EST_MATCH_SQL = " + ".join(
    f"CAST(sa.h{i} = sb.h{i} AS BIGINT)" for i in range(_K)
)


@register(
    "minhash_estimation_error",
    oracle=f"""
WITH {_MINHASH_PAIRS_CTES},
est AS (
  SELECT c.doc_a, c.doc_b, CAST({_EST_MATCH_SQL} AS BIGINT) AS m
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
              JOIN sig sb ON sb.doc_id = c.doc_b
),
jx AS (
  SELECT e.m,
         CAST(COALESCE(co.n_common, 0) AS BIGINT) AS i,
         CAST(ca.n_sh + cb.n_sh - COALESCE(co.n_common, 0) AS BIGINT) AS u
  FROM est e
  LEFT JOIN co ON co.doc_a = e.doc_a AND co.doc_b = e.doc_b
  JOIN counts ca ON ca.doc_id = e.doc_a
  JOIN counts cb ON cb.doc_id = e.doc_b
)
SELECT CAST((m * u - {_K} * i + {_K} * u) // (2 * u) AS BIGINT) AS err_band_8th,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM jx GROUP BY 1
""",
    doc=(
        "[beyond-ref] MinHash accuracy audit: histogram of "
        "(match-fraction estimate − exact shingle Jaccard) in 1/8th "
        "bands over the banded candidate pairs (band 8 = error ≈ 0)"
    ),
)
def minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error distribution of the k=16 MinHash similarity estimator on
    the production banded candidates: per pair, estimate = matching
    signature components / k, truth = exact shingle Jaccard, and the
    histogram bands floor(8·(err+1)) — band 8 holds 0 <= err < 1/8 and
    band 7 holds -1/8 <= err < 0 (the floor puts the two half-bands of
    |err| < 1/8 on either side of the 7/8 boundary; ADVICE r8); the
    tails show how often a sketch-thresholded keep/drop decision
    disagrees with the exact one.

    Exactness: the band index is pure integer arithmetic —
    (m·u − k·i + k·u) div (2u) over match count m, intersection i,
    union u — identical in both engines (non-negative, so div == floor
    everywhere). Candidates that share a band but no shingle (possible
    via band-hash coincidence) count i = 0 via the left join.

    Scale shape: shingles and signatures come from the shared
    checkpointed frames (each feeds two+ consumers); the estimate is a
    per-pair projection after two |docs|-row signature joins; the
    exact side intersects the two per-doc shingle arrays IN-ROW
    (array_intersect — the same fanout-free verify as
    jaccard_prefix_join), and the pair set is the hot-bucket-capped
    LSH candidate set, never corpus².
    """
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles as mk_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = mk_shingles(docs, n=3).localCheckpoint(eager=False)
    sig = minhash_signatures(sh, k=_K).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        sig, bands=_BANDS, rows_per_band=_RPB, max_bucket_size=_MAX_BUCKET
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_K)],
    )
    m = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(_K)
    )
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", m.alias("m")
    )
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("ss"),
        F.count("*").alias("n_sh"),
    )
    jx = (
        est.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ss").alias("sa_"),
                F.col("n_sh").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ss").alias("sb_"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "m",
            F.size(F.array_intersect(F.col("sa_"), F.col("sb_")))
            .cast("long")
            .alias("i"),
            "na",
            "nb",
        )
        .select(
            "m", "i", (F.col("na") + F.col("nb") - F.col("i")).alias("u")
        )
    )
    band = F.expr(f"(m * u - {_K} * i + {_K} * u) div (2 * u)").cast("long")
    return jx.groupBy(band.alias("err_band_8th")).agg(
        F.count("*").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights [beyond-ref]: Data Selection with Importance
# Resampling (Xie et al. 2023, arXiv:2302.03169) — score every raw
# document by how much more likely its features are under a TARGET
# distribution than under the raw corpus, log p_t(doc) − log p_r(doc)
# over add-1-smoothed unigram models. The standard modern recipe for
# "give me web data that looks like my curated slice", and entirely
# aggregate-shaped: two vocabulary-keyed count tables + one per-doc
# ordered fold.
# ---------------------------------------------------------------------------

_DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES)


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH tok AS (
  SELECT d.doc_id, d.source, t.t AS token
  FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) AS t(t)
  WHERE t.t <> ''
),
tf AS (
  SELECT doc_id, source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, source, token
),
cr AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cr FROM tf GROUP BY token),
ct AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS ct FROM tf
  WHERE source IN ({_DSIR_TGT_SQL}) GROUP BY token
),
tots AS (
  SELECT CAST((SELECT SUM(cr) FROM cr) AS BIGINT) AS nr,
         CAST((SELECT COALESCE(SUM(ct), 0) FROM ct) AS BIGINT) AS nt,
         CAST((SELECT COUNT(*) FROM cr) AS BIGINT) AS v
),
lr AS (
  SELECT cr.token,
         LN(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
            / CAST(tots.nt + tots.v AS DOUBLE))
         - LN(CAST(cr.cr + 1 AS DOUBLE) / CAST(tots.nr + tots.v AS DOUBLE))
           AS lr
  FROM cr LEFT JOIN ct USING (token) CROSS JOIN tots
),
ag AS (
  SELECT tf.doc_id, MIN(tf.source) AS source,
         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         LIST_SUM(
           LIST_TRANSFORM(
             LIST(struct_pack(tf := tf.tf, lr := lr.lr) ORDER BY tf.token),
             r -> r.tf * r.lr
           )
         ) AS w
  FROM tf JOIN lr USING (token) GROUP BY tf.doc_id
)
SELECT doc_id, source, n_tokens, ROUND(w, 6) AS dsir_weight,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS rk FROM ag
) WHERE rk <= 10
""",
    doc=(
        "[beyond-ref] DSIR importance weights (Xie et al. 2023): "
        "log-likelihood ratio of each doc under the target-slice vs "
        "raw-corpus add-1 unigram models; top-10 most target-like docs"
    ),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 raw documents that look most like the target slice
    (sources src0-src3 — in production, the curated corpus you want
    more of), scored by the DSIR importance log-weight
    Σ_t tf_t·(ln p_target(t) − ln p_raw(t)) with add-1 smoothing over
    the raw vocabulary. Resampling with these weights is the selection
    step; the top-k here is the inspectable head of that ranking.

    Cross-engine float determinism: per-token log-ratios form in one
    identical double tree (counts and totals are exact longs), and the
    per-doc Σ tf·lr folds IN TOKEN ORDER on both engines — the same
    discipline as unigram_cross_entropy. Ranking orders by the
    unrounded weight with a doc_id tiebreak.

    Scale shape: tf is one (doc, token)-keyed hash agg; both model
    count tables are vocabulary-sized aggs OF tf (the corpus is never
    re-touched); the smoothing totals ride a 1-row broadcast; the
    per-doc reduce shuffles one row per distinct (doc, token); and the
    final ranking is `bounded_topk` (TakeOrderedAndProject — doc
    frames grow with the data, no global window).
    """
    from ..operators.corpus import dsir_log_weights
    from ..operators.topk import bounded_topk

    docs = load_table(spark, sf_dir, "documents")
    # computation body in operators/corpus.dsir_log_weights (r9) so the
    # corpus build's selection stage consumes the same hash-checked math
    ag = dsir_log_weights(docs, _DSIR_TARGET_SOURCES)
    top = bounded_topk(
        ag,
        10,
        order=[F.col("w").desc(), F.col("doc_id")],
        encode=[
            (-F.col("w")).alias("nw"),
            F.col("doc_id").alias("doc_id"),
            F.col("source").alias("source"),
            F.col("n_tokens").alias("n_tokens"),
            F.col("w").alias("w"),
        ],
        fields=["doc_id", "source", "n_tokens", "w"],
    )
    return top.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("w", 6).alias("dsir_weight"),
        F.col("rk"),
    )


# ---------------------------------------------------------------------------
# Quality selection curve [beyond-ref]: the threshold-setting tool for
# quality filtering — rank the corpus by an integer quality score, cut
# it into exact deciles, and report how many TOKENS survive if you
# keep the top q deciles. "Keep docs above quality X" is really "keep
# Y % of tokens"; this is the curve that converts between them.
# ---------------------------------------------------------------------------


@register(
    "quality_selection_curve",
    oracle="""
WITH s AS (
  SELECT doc_id,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tok,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the','a')))
           AS BIGINT) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id, n_tok,
         CAST(LEAST(n_tok, 50) * 20
              - CASE WHEN n_tok >= 20 AND 100 * n_stop >= n_tok
                          AND 2 * n_stop <= n_tok
                     THEN 0 ELSE 500 END AS BIGINT) AS qpm
  FROM s
),
r AS (
  SELECT doc_id, n_tok, qpm,
         CAST(ROW_NUMBER() OVER (ORDER BY qpm, doc_id) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM q
),
d AS (
  SELECT CAST(((i - 1) * 10) // n + 1 AS BIGINT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM r GROUP BY 1
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM d),
c AS (
  SELECT decile, n_docs, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY decile DESC) AS BIGINT) AS cum_top
  FROM d
)
SELECT c.decile, c.n_docs, c.n_tokens,
       ROUND(CAST(c.cum_top AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
         AS retained_token_share
FROM c, t
""",
    doc=(
        "[beyond-ref] quality selection curve: integer per-mille quality "
        "deciles (scale-safe rank) with top-down retained-token share — "
        "the quality-threshold <-> token-budget conversion table"
    ),
)
def quality_selection_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-retention curve over quality deciles: decile 10 holds the
    highest-quality docs; ``retained_token_share`` of decile q is the
    fraction of corpus tokens you keep if you cut below q — the table a
    curation run consults to turn a token budget into a quality
    threshold (or vice versa).

    The score is integer per-mille: min(n_tok, 50)·20, minus a flat 500
    if the doc fails the stopword band (the same band as
    ``quality_score``, tested integer-exact: 100·n_stop >= n_tok and
    2·n_stop <= n_tok) — all ranking keys exact longs, ties by doc_id.

    Scale shape: the rank is ``value_bucketed_rank`` with the per-row n
    riding ``total_col`` (no count+crossJoin pass — the r8 primitive);
    the decile agg collapses the corpus to 10 rows, and the top-down
    cumulative + total fold INSIDE the 10-element array (the
    customer_value_deciles pattern) — no window over anything
    data-sized, one pass end to end.
    """
    from ..operators.topk import value_bucketed_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("long")
    band_ok = (
        (n_tok >= 20) & (100 * n_stop >= n_tok) & (2 * n_stop <= n_tok)
    )
    qpm = (
        F.least(n_tok, F.lit(50).cast("long")) * 20
        - F.when(band_ok, 0).otherwise(500)
    ).cast("long")
    q = docs.select("doc_id", n_tok.alias("n_tok"), qpm.alias("qpm"))
    ranked = value_bucketed_rank(
        q, "qpm", ["doc_id"], rank_col="i", total_col="_n"
    )
    d = ranked.groupBy(
        (F.expr("((i - 1) * 10) div _n") + 1).cast("long").alias("decile")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    arr = d.agg(
        F.array_sort(F.collect_list(F.struct("decile", "n_docs", "n_tokens"))).alias(
            "_l"
        )
    ).select(
        F.aggregate(
            F.col("_l"), F.lit(0).cast("long"), lambda acc, x: acc + x["n_tokens"]
        ).alias("_tot"),
        "_l",
    )
    # cum_top for decile q = Σ n_tokens over deciles >= q, folded over
    # the sorted ≤10-element array
    ex = arr.select(
        "_tot",
        F.explode(
            F.transform(
                F.col("_l"),
                lambda e, i: F.struct(
                    e["decile"].alias("decile"),
                    e["n_docs"].alias("n_docs"),
                    e["n_tokens"].alias("n_tokens"),
                    F.aggregate(
                        F.slice(F.col("_l"), i + 1, F.size(F.col("_l")) - i),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x["n_tokens"],
                    ).alias("cum_top"),
                ),
            )
        ).alias("_e"),
    )
    return ex.select(
        F.col("_e.decile").alias("decile"),
        F.col("_e.n_docs").alias("n_docs"),
        F.col("_e.n_tokens").alias("n_tokens"),
        F.round(
            F.col("_e.cum_top").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("retained_token_share"),
    )


# ---------------------------------------------------------------------------
# Budgeted selection boundary [beyond-ref] (VERDICT r9 #2): the keep-set
# DECISION the corpus build acts on (corpus_pipeline.run_corpus_build →
# corpus.budget_select), hash-checked doc-by-doc. quality_selection_curve
# publishes the threshold↔budget conversion at decile granularity; this
# is the doc-granular cut itself — every doc's inclusive cumulative
# token count under ORDER BY (score DESC, doc_id) and whether it makes
# the budget. The budget is DERIVED (half the corpus token mass) by the
# same scalar-subquery/1-row-broadcast discipline as the audit strides,
# so the boundary stays non-trivial at every sf.
# ---------------------------------------------------------------------------


@register(
    "corpus_budget_select",
    oracle="""
WITH s AS (
  SELECT doc_id,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tok,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ('the','a')))
           AS BIGINT) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id, n_tok,
         CAST(LEAST(n_tok, 50) * 20
              - CASE WHEN n_tok >= 20 AND 100 * n_stop >= n_tok
                          AND 2 * n_stop <= n_tok
                     THEN 0 ELSE 500 END AS BIGINT) AS score
  FROM s
),
b AS (SELECT CAST(CAST(SUM(n_tok) AS BIGINT) // 2 AS BIGINT) AS budget FROM q),
c AS (
  SELECT doc_id, n_tok, score,
         CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT c.doc_id, c.n_tok, c.score, c.cum_tokens,
       c.cum_tokens <= b.budget AS selected
FROM c, b
""",
    doc=(
        "[beyond-ref] budgeted-selection boundary: per-doc inclusive "
        "cumulative tokens under (quality score DESC, doc_id) and the "
        "selected flag at a derived half-token-mass budget — the "
        "doc-granular cut corpus_pipeline acts on (SURVEY §2.10 "
        "training-data tier)"
    ),
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The budget_select operator exactly as the corpus build consumes
    it: quality_pm scores (the hash-checked integer per-mille score of
    ``quality_selection_curve``), greedy best-first prefix under a
    token budget of floor(total_tokens / 2) — derived in-plan (1-row
    broadcast) and by the oracle's scalar subquery, so the selection
    boundary lands mid-corpus at any sf instead of degenerating to
    all-kept/all-cut.

    Scale shape (inherited from budget_select): the cumulative sum is
    value_bucketed_prefix_sum — range-bucket on probed score
    boundaries, per-bucket window, one ≤64-element array fold for the
    bucket offsets; zero unpartitioned windows (plan-guard-tested).
    The budget rides a 1-row broadcast crossJoin; exact long
    arithmetic end to end, ties broken by doc_id in both engines.
    """
    from ..operators.corpus import budget_select, quality_pm

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_pm(docs)
    budget = scored.agg(
        F.floor(F.sum("n_tok") / 2).cast("long").alias("_budget")
    )
    return budget_select(scored, budget)


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion [beyond-ref] — the RAG
# serving/corpus-mining shape that combines a sparse lexical ranker
# with a dense embedding ranker (Cormack et al., SIGIR'09 RRF:
# score(d) = sum over rankers of 1/(k + rank_r(d)), k = 60).
#
# Legs (each top-20 per query, ties broken by candidate_id after a
# 6-dp round so ranks are cross-engine exact):
# - dense: exact cosine against the query embedding (the brute-force
#   baseline of embedding_topk_cosine; at 100 TB the leg swaps to the
#   sign-LSH / IVF ANN operators — same (query_id, candidate_id, rank)
#   contract, recall-gated);
# - sparse: idf-weighted distinct-token overlap via the inverted-index
#   postings join (the same ln(N/df) weighting as tfidf_tokens, summed
#   over shared tokens; at 100 TB the postings join takes the PPJoin
#   rarest-token prefix filter of jaccard_prefix_pairs).
#
# Scale shape: the query side (8 queries) broadcasts into both legs;
# candidates stream through one postings shuffle (lexical) and one
# broadcast-nested-loop cosine pass (dense). df/N are vocab-/1-row-
# sized broadcasts. Every window partitions by query_id over lists the
# legs already capped at 20, and the fusion join is (queries x 20) vs
# (queries x 20) — bounded regardless of corpus size.
#
# Float discipline: per-token idf terms and per-pair cosines round to
# 6 dp BEFORE ranking and summing. Decimal 6-dp values are NOT exactly
# representable in binary, so sums retain ulp-level order dependence —
# but those order differences stay ~1e-10 below the final 6-dp rounding
# granularity, far outside any realistic tie window (a flake needs a
# quotient within ~1e-14 of a 5e-7 boundary). RRF contributions are
# 1.0/(60+rank) on exact integer operands — two correctly-rounded IEEE
# terms added in a fixed order.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_NQ = 8  # query set: vec_id < 8 (embeddings + their document text)
_RRF_LEG_K = 20
_RRF_OUT_K = 10


# Shared oracle CTE chain: exact dense leg + exact lexical leg + RRF
# fusion. hybrid_retrieval_rrf selects the fused top-10 directly;
# hybrid_retrieval_rrf_ann appends label-relevance NDCG CTEs on top of
# the same exact ranking (its audit side) and asserts the ANN gates.
_RRF_FUSED_CTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {_RRF_NQ}
),
c AS (
  SELECT vec_id AS candidate_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= {_RRF_NQ}
),
dense AS (
  SELECT q.query_id, c.candidate_id,
         ROUND(LIST_DOT_PRODUCT(q.v, c.v) /
               (SQRT(LIST_DOT_PRODUCT(q.v, q.v)) * SQRT(LIST_DOT_PRODUCT(c.v, c.v))), 6) AS cosine
  FROM q CROSS JOIN c
),
dense_top AS (
  SELECT query_id, candidate_id, rn AS dense_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rn
    FROM dense
  ) WHERE rn <= {_RRF_LEG_K}
),
qtok AS (
  SELECT DISTINCT d.doc_id AS query_id, t.tok
  FROM documents d, UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '), x -> x <> '')) AS t(tok)
  WHERE d.doc_id < {_RRF_NQ}
),
ctok AS (
  SELECT DISTINCT d.doc_id AS candidate_id, t.tok
  FROM documents d JOIN c ON d.doc_id = c.candidate_id,
       UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '), x -> x <> '')) AS t(tok)
),
dfc AS (SELECT tok, COUNT(DISTINCT candidate_id) AS df FROM ctok GROUP BY tok),
nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_c FROM c),
lex AS (
  SELECT q.query_id, ct.candidate_id,
         ROUND(SUM(ROUND(LN(nc.n_c / dfc.df), 6)), 6) AS lex_score
  FROM qtok q JOIN ctok ct USING (tok) JOIN dfc USING (tok) CROSS JOIN nc
  GROUP BY q.query_id, ct.candidate_id
),
lex_top AS (
  SELECT query_id, candidate_id, rn AS lex_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY lex_score DESC, candidate_id) AS rn
    FROM lex
  ) WHERE rn <= {_RRF_LEG_K}
),
fused AS (
  SELECT query_id, candidate_id, d.dense_rank, l.lex_rank,
         ROUND(COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0), 6) AS rrf_score
  FROM dense_top d FULL OUTER JOIN lex_top l USING (query_id, candidate_id)
),
ftop AS (
  SELECT query_id, candidate_id, dense_rank, lex_rank, rrf_score, rn AS fused_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, candidate_id) AS rn
    FROM fused
  ) WHERE rn <= {_RRF_OUT_K}
)
"""


@register(
    "hybrid_retrieval_rrf",
    oracle=_RRF_FUSED_CTE_SQL
    + """
SELECT query_id, candidate_id, dense_rank, lex_rank, rrf_score, fused_rank
FROM ftop
""",
    doc=(
        "[beyond-ref] hybrid retrieval: dense-cosine + idf-weighted "
        "lexical rankers fused by reciprocal-rank fusion (k=60, top-20 "
        "legs, top-10 fused) over the embeddings/documents corpus "
        "(SURVEY §2.10 similarity tier)"
    ),
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _rrf_sides(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dense_top = _rrf_dense_exact(q, c)
    lex_top = _rrf_lex_leg(docs, c, prefix=None)
    return _rrf_fuse(dense_top, lex_top)


def _rrf_wq(col):
    """Per-query rank window — every leg and the fusion break ties by
    candidate_id after a 6-dp round so ranks are cross-engine exact."""
    return Window.partitionBy("query_id").orderBy(F.desc(col), F.asc("candidate_id"))


def _rrf_sides(spark, sf_dir):
    """(queries, candidates) split of the embeddings corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("v"),
    )
    q = emb.where(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _RRF_NQ).select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv")
    )
    return q, c


def _rrf_dense_exact(q, c):
    """Exact dense leg: brute-force cosine, bounded query side broadcast.
    The AUDIT form — the production path is _rrf_dense_ann."""
    return (
        c.join(F.broadcast(q), how="cross")
        .select(
            "query_id",
            "candidate_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
        .withColumn("dense_rank", F.row_number().over(_rrf_wq("cosine")).cast("long"))
        .where(F.col("dense_rank") <= _RRF_LEG_K)
        .select("query_id", "candidate_id", "dense_rank")
    )


def _rrf_dense_ann(q, c):
    """Production dense leg: sign-LSH multiprobe ANN (bucket-local
    joins only — the corpus never meets the query set in a crossJoin).

    Same (query_id, candidate_id, dense_rank) contract as the exact
    leg. Config rides the measured bitext ladder (llm_queries.py
    bitext_mining_ann provenance): (6,4) below 4096 candidates —
    near-brute-force is simply correct at small corpora — and (10,4)
    above, the sf1-measured sweet spot (recall 0.82 at 21.8× on the
    10× rehearsal corpus). The ladder reads the candidate count from
    one narrow column-pruned scan.
    """
    from ..operators.similarity import ann_lsh_cosine

    n_c = c.count()
    n_planes, radius = (6, 4) if n_c < 4096 else (10, 4)
    ann = ann_lsh_cosine(
        q.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("v")),
        c.select(F.col("candidate_id").alias("vec_id"), F.col("cv").alias("v")),
        k=_RRF_LEG_K,
        n_planes=n_planes,
        dim=64,
        id_col="vec_id",
        vec_col="v",
        multiprobe=radius,
    )
    # re-rank on the 6-dp-rounded cosine (the exact leg's tie
    # discipline) so rank boundaries can't flap on sub-6-dp noise
    rounded = ann.select(
        "query_id", "candidate_id", F.round(F.col("cosine"), 6).alias("cosine")
    )
    return (
        rounded.withColumn(
            "dense_rank", F.row_number().over(_rrf_wq("cosine")).cast("long")
        )
        .where(F.col("dense_rank") <= _RRF_LEG_K)
        .select("query_id", "candidate_id", "dense_rank")
    )


def _rrf_lex_leg(docs, c, prefix=None):
    """Lexical leg: idf-weighted distinct-token overlap.

    ``prefix=None`` is the exact form: the full postings join — every
    shared token pairs a query with a candidate, so the join cost is
    Σ_t df(t) over the QUERY vocabulary, dominated by stopword-sized
    postings lists at scale.

    ``prefix=p`` is the production form (PPJoin rarest-token prefix
    filter, Bayardo WWW'07, adapted from jaccard_prefix_pairs):
    candidates are GENERATED only through each query's p rarest tokens
    (global df asc, token) — the postings lists actually walked are
    the smallest ones by construction — then the generated pairs are
    scored EXACTLY over their full shared-token sets. Generation cost
    is Σ over p rarest query tokens of df(t); scoring cost is
    Σ over generated pairs of |tokens(candidate)|, both corpus-scale
    safe. Unlike jaccard_prefix_pairs' τ-derived prefix this filter is
    approximate for top-k idf retrieval (a candidate sharing only
    common tokens is missed), which is why the registered ANN form
    gates overlap against the exact leg instead of claiming
    completeness.
    """
    tok = lambda df, idc: (  # noqa: E731
        df.select(
            F.col("doc_id").alias(idc), F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    qtok = tok(docs.where(F.col("doc_id") < _RRF_NQ), "query_id")
    ctok = tok(
        docs.join(c.select(F.col("candidate_id").alias("doc_id")), "doc_id"),
        "candidate_id",
    )
    dfc = ctok.groupBy("tok").agg(F.count_distinct("candidate_id").alias("df"))
    nc = c.agg(F.count("*").cast("double").alias("n_c"))
    term = F.round(F.log(F.col("n_c") / F.col("df")), 6)
    if prefix is None:
        shared = ctok.join(F.broadcast(qtok), "tok").join(F.broadcast(dfc), "tok")
    else:
        # rarest-p prefix per query (df asc, tok — the jaccard_prefix
        # canonical order), then exact idf scoring of generated pairs
        # over their full shared-token sets
        w_pref = Window.partitionBy("query_id").orderBy("df", "tok")
        pref = (
            qtok.join(dfc, "tok")
            .withColumn("rnk", F.row_number().over(w_pref))
            .where(F.col("rnk") <= prefix)
            .select("query_id", "tok")
        )
        pairs = (
            ctok.join(F.broadcast(pref), "tok")
            .select("query_id", "candidate_id")
            .distinct()
        )
        shared = (
            ctok.join(pairs, "candidate_id")
            .join(F.broadcast(qtok), ["query_id", "tok"])
            .join(dfc, "tok")
        )
    lex = (
        shared.crossJoin(F.broadcast(nc))
        .groupBy("query_id", "candidate_id")
        .agg(F.round(F.sum(term), 6).alias("lex_score"))
    )
    return (
        lex.withColumn("lex_rank", F.row_number().over(_rrf_wq("lex_score")).cast("long"))
        .where(F.col("lex_rank") <= _RRF_LEG_K)
        .select("query_id", "candidate_id", "lex_rank")
    )


def _rrf_fuse(dense_top, lex_top):
    """RRF fusion: bounded (queries × 20) full-outer join → fused top-10."""
    contrib = lambda col: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(_RRF_K) + F.col(col)), F.lit(0.0)
    )
    fused = dense_top.join(
        lex_top, ["query_id", "candidate_id"], "full_outer"
    ).withColumn(
        "rrf_score", F.round(contrib("dense_rank") + contrib("lex_rank"), 6)
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(_rrf_wq("rrf_score")).cast("long")
        )
        .where(F.col("fused_rank") <= _RRF_OUT_K)
        .select(
            "query_id", "candidate_id", "dense_rank", "lex_rank", "rrf_score", "fused_rank"
        )
    )


# ---------------------------------------------------------------------------
# Hybrid RRF, PRODUCTION legs [beyond-ref] — the scale path promised by
# the comment above, now a registered query (VERDICT r10 #1, the
# bitext_mining_ann precedent: the ANN-legged form is the production
# path, the exact form the audit):
#
# - dense leg → sign-LSH multiprobe ANN (ann_lsh_cosine): bucket-local
#   joins, config on the measured bitext ladder ((6,4) < 4096
#   candidates, (10,4) above);
# - lexical leg → PPJoin rarest-token prefix filter: candidates are
#   generated only through each query's 8 rarest tokens (smallest
#   postings lists by construction), then scored exactly over their
#   full shared-token sets — the stopword-sized postings lists are
#   never walked.
#
# Two in-plan gates ride the output (asserted literally TRUE by the
# oracle, so a degraded ANN config FAILS the driver hash instead of
# silently degrading fusion quality — VERDICT r10 #5):
# - ann_overlap_ok: |ANN-fused@10 ∩ exact-fused@10| / |exact| >= 0.85
#   macro over queries. Measured (prefix=8, ladder config): 0.963 /
#   1.0 / 0.95 / 1.0 at sf0.001/0.01/0.1/sf1 — margins >= +0.10.
# - ann_ndcg_ok: macro label-relevance NDCG@10 of the ANN fused
#   ranking >= the exact ranking's macro NDCG − 0.05. RELATIVE floor:
#   absolute NDCG varies 15× across corpora (0.030/0.122/0.112
#   measured), but the production ranking must track its own audit.
#   Measured deltas: 0.0 / 0.0 / +0.001 / 0.0.
#
# The checked rows are the AUDIT side: per-query exact-fused NDCG@10
# (SQL-expressible, hash-compared), so the NDCG computation itself has
# a differential, not just the gate.
# ---------------------------------------------------------------------------

_RRF_PREFIX = 8
_RRF_ANN_OVERLAP_FLOOR = 0.85
_RRF_ANN_NDCG_MARGIN = 0.05


def _rrf_labels(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ql = emb.where(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    cl = emb.where(F.col("vec_id") >= _RRF_NQ).select(
        F.col("vec_id").alias("candidate_id"), F.col("label").alias("clabel")
    )
    return ql, cl


def _rrf_ndcg(fused, ql, cl):
    """Per-query (query_id, n_exact, n_relevant, ndcg) of a fused
    top-10 against label-match relevance — retrieval_eval_ndcg's gain
    discipline (6-dp-rounded 1/log2(1+rank) terms, k-bounded in-row
    IDCG fold)."""
    nrel = (
        ql.join(cl, F.col("clabel") == F.col("qlabel"), "left")
        .groupBy("query_id")
        .agg(F.count("candidate_id").cast("long").alias("n_relevant"))
    )
    gain = F.round(
        F.lit(1.0) / F.log2(F.lit(1.0) + F.col("fused_rank").cast("double")), 6
    )
    hits = (
        fused.join(cl, "candidate_id")
        .join(F.broadcast(ql), "query_id")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.coalesce(
                F.sum(F.when(F.col("clabel") == F.col("qlabel"), gain)), F.lit(0.0)
            ).alias("dcg"),
        )
    )
    ideal_n = F.least(F.col("n_relevant"), F.lit(_RRF_OUT_K)).cast("int")
    idcg = F.when(
        ideal_n > 0,
        F.aggregate(
            F.sequence(F.lit(1), ideal_n),
            F.lit(0.0),
            lambda acc, i: acc
            + F.round(F.lit(1.0) / F.log2(F.lit(1.0) + i.cast("double")), 6),
        ),
    ).otherwise(F.lit(0.0))
    return (
        nrel.withColumn("idcg", idcg)
        .join(hits, "query_id")
        .select(
            "query_id",
            "n_exact",
            "n_relevant",
            F.round(
                F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0),
                6,
            ).alias("ndcg"),
        )
    )


@register(
    "hybrid_retrieval_rrf_ann",
    oracle=_RRF_FUSED_CTE_SQL
    + f"""
, ql AS (SELECT vec_id AS query_id, label AS qlabel FROM embeddings WHERE vec_id < {_RRF_NQ})
, cl AS (SELECT vec_id AS candidate_id, label AS clabel FROM embeddings WHERE vec_id >= {_RRF_NQ})
, nrel AS (
  SELECT ql.query_id, CAST(COUNT(cl.candidate_id) AS BIGINT) AS n_relevant
  FROM ql LEFT JOIN cl ON cl.clabel = ql.qlabel GROUP BY ql.query_id
)
, hits AS (
  SELECT f.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         COALESCE(SUM(ROUND(1.0 / LOG2(1.0 + CAST(f.fused_rank AS DOUBLE)), 6))
                  FILTER (cl.clabel = ql.qlabel), 0.0) AS dcg
  FROM ftop f JOIN cl USING (candidate_id) JOIN ql USING (query_id)
  GROUP BY f.query_id
)
, idcg AS (
  SELECT n.query_id,
         COALESCE(SUM(ROUND(1.0 / LOG2(1.0 + CAST(t.i AS DOUBLE)), 6)), 0.0) AS idcg
  FROM nrel n
  LEFT JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_RRF_OUT_K})) AS i) t
    ON t.i <= LEAST(n.n_relevant, {_RRF_OUT_K})
  GROUP BY n.query_id
)
SELECT n.query_id, h.n_exact, n.n_relevant,
       ROUND(CASE WHEN i.idcg > 0 THEN h.dcg / i.idcg ELSE 0.0 END, 6) AS exact_ndcg,
       TRUE AS ann_overlap_ok, TRUE AS ann_ndcg_ok
FROM nrel n JOIN hits h USING (query_id) JOIN idcg i ON i.query_id = n.query_id
""",
    doc=(
        "[beyond-ref] hybrid RRF production path: sign-LSH ANN dense "
        "leg + PPJoin prefix-filtered lexical leg, gated in-plan on "
        "fused-top-10 overlap >= 0.85 and NDCG@10 within 0.05 of the "
        "exact-legged audit (SURVEY §2.10 similarity tier)"
    ),
)
def hybrid_retrieval_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hybrid retrieval (ANN legs) + exact audit + gates.

    Scale shape: the ANN dense leg is bucket-local (never query ×
    corpus); the prefix-filtered lexical leg walks only the 8 rarest
    postings lists per query and scores only generated pairs. The
    exact legs run as the AUDIT over the bounded query set (the same
    role as bitext_mining_ann's strided exact margin pass; at real
    scale the query set — not the corpus — is the bounded side). All
    gate aggregates fold over ≤ queries × 10 rows.
    """
    q, c = _rrf_sides(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ql, cl = _rrf_labels(spark, sf_dir)

    # Checkpointing the fused legs was A/B-measured BOTH ways in r15
    # and lost both times SEQUENTIALLY: eager serialized the two
    # corpus-sized legs into blocking jobs (1.1×), non-eager re-computed
    # them under the gates' concurrent subquery consumers (4.7×). r16
    # (VERDICT r15 #1): the FOUR raw retrieval legs — each an
    # independent corpus-sized pipeline producing a ≤ queries×20 list —
    # eagerly checkpoint on CONCURRENT driver threads (guide §2.6), so
    # the wall cost is max(leg), not Σ(legs), and the fuse/gate/NDCG
    # consumers fold over the bounded checkpointed lists instead of
    # re-walking shared subtrees. Each leg owns only the checkpoint it
    # returns; the result reads all four, so they are the caller's.
    from ..operators.cache import checkpoint_owned, run_concurrently

    de, le, da, la = run_concurrently(
        lambda: checkpoint_owned(_rrf_dense_exact(q, c)),
        lambda: checkpoint_owned(_rrf_lex_leg(docs, c, prefix=None)),
        lambda: checkpoint_owned(_rrf_dense_ann(q, c)),
        lambda: checkpoint_owned(_rrf_lex_leg(docs, c, prefix=_RRF_PREFIX)),
        spark=spark,
    )
    exact = _rrf_fuse(de, le)
    ann = _rrf_fuse(da, la)

    overlap = (
        exact.join(
            ann.select("query_id", "candidate_id", F.lit(1).alias("hit")),
            ["query_id", "candidate_id"],
            "left",
        )
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                >= F.lit(_RRF_ANN_OVERLAP_FLOOR) * F.count("*")
            ).alias("ann_overlap_ok")
        )
    )
    ex_ndcg = _rrf_ndcg(exact, ql, cl)
    ann_ndcg = _rrf_ndcg(ann, ql, cl)
    ndcg_gate = (
        ex_ndcg.select(F.col("ndcg").alias("e"))
        .agg(F.avg("e").alias("ex_macro"))
        .crossJoin(ann_ndcg.select(F.col("ndcg").alias("a")).agg(F.avg("a").alias("ann_macro")))
        .select(
            (
                F.col("ann_macro") >= F.col("ex_macro") - F.lit(_RRF_ANN_NDCG_MARGIN)
            ).alias("ann_ndcg_ok")
        )
    )
    gates = overlap.crossJoin(ndcg_gate)
    return ex_ndcg.select(
        "query_id",
        "n_exact",
        "n_relevant",
        F.col("ndcg").alias("exact_ndcg"),
    ).crossJoin(F.broadcast(gates))


# ---------------------------------------------------------------------------
# MMR diversified re-rank [beyond-ref] — Carbonell & Goldstein (SIGIR'98)
# maximal marginal relevance over the dense top-10 pool: greedily pick
# _MMR_K docs, each maximizing lambda*rel - (1-lambda)*max_sim_to_selected
# (lambda = 0.7). The dedup-aware cousin of plain top-k retrieval: a
# pool full of near-duplicates yields one representative, not five.
#
# The greedy recurrence is inherently sequential in k, but k is a
# CONSTANT (5) while the corpus is not: the per-step work is bounded at
# (queries x pool) rows, so the plan unrolls the five steps as five
# bounded join+argmax stages. Corpus-sized work happens exactly once —
# the dense top-10 leg — and everything after it is O(queries x 100).
# The oracle unrolls the same five steps as generated CTEs.
#
# Float discipline: rel and pairwise sims round to 6 dp, then convert
# to exact micro-unit longs (rel_pm / sim_pm); the MMR score is the
# INTEGER 7*rel_pm - 3*max_pm, ranked as an integer and divided once
# for display. A float 0.7*rel - 0.3*maxsim would land exactly on
# decimal halfway points (0.7 x a 6-dp value has 7 decimals — e.g.
# 0.7*0.371485 = 0.2600395), where Spark's BigDecimal-shortest-repr
# HALF_UP and DuckDB's binary-value rounding disagree; the sf0.01
# differential caught exactly that. Ties break by candidate_id.
# ---------------------------------------------------------------------------

_MMR_POOL = 10
_MMR_K = 5
_MMR_NQ = _RRF_NQ  # same bounded query set as the RRF family


def _mmr_oracle() -> str:
    cos = (
        "ROUND(LIST_DOT_PRODUCT({a}.v, {b}.v) / "
        "(SQRT(LIST_DOT_PRODUCT({a}.v, {a}.v)) * "
        "SQRT(LIST_DOT_PRODUCT({b}.v, {b}.v))), 6)"
    )
    parts = [
        f"""WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {_MMR_NQ}
),
c AS (
  SELECT vec_id AS candidate_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= {_MMR_NQ}
),
pool AS (
  SELECT query_id, candidate_id, v, rel,
         CAST(ROUND(rel * 1000000) AS BIGINT) AS rel_pm
  FROM (
    SELECT q.query_id, c.candidate_id, c.v,
           {cos.format(a='q', b='c')} AS rel,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos.format(a='q', b='c')} DESC,
                                       c.candidate_id) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {_MMR_POOL}
),
sims AS (
  SELECT a.query_id, a.candidate_id AS ca, b.candidate_id AS cb,
         CAST(ROUND({cos.format(a='a', b='b')} * 1000000) AS BIGINT) AS sim_pm
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.candidate_id <> b.candidate_id
),
p1 AS (
  SELECT query_id, candidate_id, CAST(1 AS BIGINT) AS mmr_rank, rel,
         0.0 AS maxsim,
         CAST(7 * rel_pm AS DOUBLE) / 10000000.0 AS mmr_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY 7 * rel_pm DESC,
                                          candidate_id) AS rn
    FROM pool
  ) WHERE rn = 1
)"""
    ]
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT query_id, candidate_id FROM p{j}" for j in range(1, k)
        )
        parts.append(
            f""",
sel{k} AS ({sel}),
m{k} AS (
  SELECT s.query_id, s.ca AS candidate_id, MAX(s.sim_pm) AS max_pm
  FROM sims s
  JOIN sel{k} t ON s.query_id = t.query_id AND s.cb = t.candidate_id
  WHERE NOT EXISTS (
    SELECT 1 FROM sel{k} u
    WHERE u.query_id = s.query_id AND u.candidate_id = s.ca
  )
  GROUP BY s.query_id, s.ca
),
p{k} AS (
  SELECT query_id, candidate_id, CAST({k} AS BIGINT) AS mmr_rank, rel,
         maxsim, mmr_score
  FROM (
    SELECT p.query_id, p.candidate_id, p.rel,
           CAST(m.max_pm AS DOUBLE) / 1000000.0 AS maxsim,
           CAST(7 * p.rel_pm - 3 * m.max_pm AS DOUBLE) / 10000000.0 AS mmr_score,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY 7 * p.rel_pm - 3 * m.max_pm DESC,
                                       p.candidate_id) AS rn
    FROM pool p
    JOIN m{k} m ON m.query_id = p.query_id AND m.candidate_id = p.candidate_id
  ) WHERE rn = 1
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM p{j}" for j in range(1, _MMR_K + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


@register(
    "mmr_diverse_rerank",
    oracle=_mmr_oracle(),
    doc=(
        "[beyond-ref] maximal-marginal-relevance diversified re-rank: "
        f"greedy top-{_MMR_K} from the dense top-{_MMR_POOL} pool, "
        "lambda=0.7, pairwise-cosine redundancy penalty (SURVEY §2.10 "
        "similarity tier)"
    ),
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("v"),
    )
    cos = lambda av, bv: F.round(cosine(av, bv), 6)  # noqa: E731
    q = emb.where(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _MMR_NQ).select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv")
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("candidate_id")
    )
    pool = (
        c.join(F.broadcast(q), how="cross")
        .select(
            "query_id",
            "candidate_id",
            "cv",
            cos(F.col("qv"), F.col("cv")).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w_rel))
        .where(F.col("rn") <= _MMR_POOL)
        # micro-unit integer twin of rel: the MMR score arithmetic runs
        # exactly in the integer domain (see the float-discipline note)
        .select(
            "query_id",
            "candidate_id",
            "cv",
            "rel",
            F.round(F.col("rel") * 1000000).cast("long").alias("rel_pm"),
        )
    )
    # The greedy runs ENTIRELY IN-ROW after one groupBy(query_id): the
    # per-query state is bounded (10 candidates with vectors and
    # precomputed norms), so the 5 steps and the pairwise sims are a
    # constant-size fold per query — one shuffle total, no stage chain.
    # (The first cut unrolled 4 join+argmax stages over the same tiny
    # frames: ~12 extra stages of pure scheduling overhead — 14.2 s at
    # sf0.1 unshared, ~7 s lazily-checkpointed, vs ~1 s for this shape.)
    ent = F.struct(
        F.col("candidate_id").alias("cid"),
        F.col("rel_pm").alias("rel_pm"),
        F.col("rel").alias("rel"),
        F.col("cv").alias("cv"),
        F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("n"),
    )
    prow = pool.groupBy("query_id").agg(
        F.array_sort(F.collect_list(ent)).alias("P")
    )
    # pairwise sim in micro-units — the IDENTICAL expression tree the
    # pair-frame form would use: round(round(dot/(na*nb), 6) * 1e6)
    sim_pm = lambda p, s: F.round(  # noqa: E731
        F.round(dot(p["cv"], s["cv"]) / (p["n"] * s["n"]), 6) * 1000000
    ).cast("long")
    max_pm = lambda p, sel: F.coalesce(  # noqa: E731
        F.array_max(
            F.transform(
                F.filter(F.col("P"), lambda s: F.array_contains(sel, s["cid"])),
                lambda s: sim_pm(p, s),
            )
        ),
        F.lit(0).cast("long"),
    )
    out_t = "array<struct<cid:bigint,rel:double,max_pm:bigint,mmr_i:bigint>>"

    def step(acc, _i):
        sel = acc["sel"]
        cands = F.filter(
            F.col("P"), lambda p: ~F.array_contains(sel, p["cid"])
        )
        # argmax by (mmr_i desc, cid asc) == struct-min on (-mmr_i, cid)
        scored = F.transform(
            cands,
            lambda p: F.struct(
                (3 * max_pm(p, sel) - 7 * p["rel_pm"]).alias("neg"),
                p["cid"].alias("cid"),
                p["rel"].alias("rel"),
                max_pm(p, sel).alias("max_pm"),
            ),
        )
        best = F.array_min(scored)
        grown = F.struct(
            F.concat(sel, F.array(best["cid"])).alias("sel"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        best["cid"].alias("cid"),
                        best["rel"].alias("rel"),
                        best["max_pm"].alias("max_pm"),
                        (-best["neg"]).alias("mmr_i"),
                    )
                ),
            ).alias("out"),
        )
        return F.when(F.size(cands) > 0, grown).otherwise(acc)

    init = F.struct(
        F.array().cast("array<bigint>").alias("sel"),
        F.array().cast(out_t).alias("out"),
    )
    picks = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MMR_K)), init, step
    )["out"]
    return prow.select(
        "query_id", F.posexplode(picks).alias("pos", "o")
    ).select(
        "query_id",
        F.col("o.cid").alias("candidate_id"),
        (F.col("pos") + 1).cast("long").alias("mmr_rank"),
        F.col("o.rel").alias("rel"),
        (F.col("o.max_pm").cast("double") / 1000000.0).alias("maxsim"),
        (F.col("o.mmr_i").cast("double") / 10000000.0).alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# Retrieval-quality eval [beyond-ref] — recall@k / MRR@k / NDCG@k of the
# dense ranking against label-match relevance (a candidate is relevant
# to a query iff it carries the query's embedding label): the eval gate
# a retrieval corpus build reports next to the ANN recall gates, and
# the ranking-metric sibling of the ML-eval tier (auc_exact_rank).
#
# Scale shape: one corpus pass for the per-query relevant-count (an
# aggregation on the label equi-join), one for the top-k leg; every
# window partitions by query_id over lists capped at k. Gain terms
# 1/log2(1+rank) round to 6 dp per term before summing (exact in any
# order), and IDCG folds the same rounded terms over a k-bounded
# sequence in index order on both engines.
# ---------------------------------------------------------------------------

_NDCG_K = 10


@register(
    "retrieval_eval_ndcg",
    oracle=f"""
WITH q AS (
  SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS v, e.label
  FROM embeddings e WHERE e.vec_id < {_RRF_NQ}
),
c AS (
  SELECT e.vec_id AS candidate_id, CAST(e.embedding AS DOUBLE[]) AS v, e.label
  FROM embeddings e WHERE e.vec_id >= {_RRF_NQ}
),
nrel AS (
  SELECT q.query_id, CAST(COUNT(c.candidate_id) AS BIGINT) AS n_relevant
  FROM q LEFT JOIN c ON c.label = q.label
  GROUP BY q.query_id
),
topk AS (
  SELECT query_id, candidate_id, rn, relevant FROM (
    SELECT q.query_id, c.candidate_id,
           (c.label = q.label) AS relevant,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(LIST_DOT_PRODUCT(q.v, c.v) /
                            (SQRT(LIST_DOT_PRODUCT(q.v, q.v)) *
                             SQRT(LIST_DOT_PRODUCT(c.v, c.v))), 6) DESC,
                      c.candidate_id) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {_NDCG_K}
),
hits AS (
  SELECT query_id,
         CAST(COUNT(*) FILTER (relevant) AS BIGINT) AS n_hits,
         COALESCE(MIN(rn) FILTER (relevant), 0) AS first_rel_rank,
         COALESCE(SUM(ROUND(1.0 / LOG2(1.0 + rn), 6)) FILTER (relevant), 0.0) AS dcg
  FROM topk GROUP BY query_id
),
idcg AS (
  SELECT n.query_id,
         COALESCE(SUM(ROUND(1.0 / LOG2(1.0 + CAST(t.i AS DOUBLE)), 6)), 0.0) AS idcg
  FROM nrel n
  LEFT JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_NDCG_K})) AS i) t
    ON t.i <= LEAST(n.n_relevant, {_NDCG_K})
  GROUP BY n.query_id
)
SELECT n.query_id, n.n_relevant, h.n_hits,
       ROUND(CASE WHEN n.n_relevant > 0
                  THEN CAST(h.n_hits AS DOUBLE) / n.n_relevant
                  ELSE 0.0 END, 6) AS recall_at_k,
       ROUND(CASE WHEN h.first_rel_rank > 0
                  THEN 1.0 / h.first_rel_rank ELSE 0.0 END, 6) AS mrr_at_k,
       ROUND(CASE WHEN i.idcg > 0 THEN h.dcg / i.idcg ELSE 0.0 END, 6)
         AS ndcg_at_k
FROM nrel n JOIN hits h USING (query_id) JOIN idcg i ON i.query_id = n.query_id
""",
    doc=(
        "[beyond-ref] retrieval-quality eval: recall@10 / MRR@10 / "
        "NDCG@10 of the dense cosine ranking against label-match "
        "relevance (SURVEY §2.10 similarity tier)"
    ),
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("v"),
        "label",
    )
    q = emb.where(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    c = emb.where(F.col("vec_id") >= _RRF_NQ).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("cv"),
        F.col("label").alias("clabel"),
    )
    nrel = (
        q.join(c, F.col("clabel") == F.col("qlabel"), "left")
        .groupBy("query_id")
        .agg(F.count("candidate_id").cast("long").alias("n_relevant"))
    )
    cosine = F.round(
        dot(F.col("qv"), F.col("cv"))
        / (F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("cv"), F.col("cv")))),
        6,
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("candidate_id")
    )
    topk = (
        c.join(F.broadcast(q), how="cross")
        .select(
            "query_id",
            "candidate_id",
            (F.col("clabel") == F.col("qlabel")).alias("relevant"),
            cosine.alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w_q))
        .where(F.col("rn") <= _NDCG_K)
    )
    gain = F.round(F.lit(1.0) / F.log2(F.lit(1.0) + F.col("rn")), 6)
    hits = topk.groupBy("query_id").agg(
        F.count(F.when(F.col("relevant"), 1)).cast("long").alias("n_hits"),
        F.coalesce(
            F.min(F.when(F.col("relevant"), F.col("rn"))), F.lit(0)
        ).alias("first_rel_rank"),
        F.coalesce(
            F.sum(F.when(F.col("relevant"), gain)), F.lit(0.0)
        ).alias("dcg"),
    )
    # IDCG: fold the same rounded gain terms over 1..min(R, k) in index
    # order — a k-bounded in-row sequence, no extra join or shuffle.
    ideal_n = F.least(F.col("n_relevant"), F.lit(_NDCG_K)).cast("int")
    idcg = F.when(
        ideal_n > 0,
        F.aggregate(
            F.sequence(F.lit(1), ideal_n),
            F.lit(0.0),
            lambda acc, i: acc
            + F.round(F.lit(1.0) / F.log2(F.lit(1.0) + i.cast("double")), 6),
        ),
    ).otherwise(F.lit(0.0))
    out = nrel.withColumn("idcg", idcg).join(hits, "query_id")
    return out.select(
        "query_id",
        "n_relevant",
        "n_hits",
        F.round(
            F.when(
                F.col("n_relevant") > 0,
                F.col("n_hits").cast("double") / F.col("n_relevant"),
            ).otherwise(0.0),
            6,
        ).alias("recall_at_k"),
        F.round(
            F.when(
                F.col("first_rel_rank") > 0, F.lit(1.0) / F.col("first_rel_rank")
            ).otherwise(0.0),
            6,
        ).alias("mrr_at_k"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0),
            6,
        ).alias("ndcg_at_k"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-means assignment [beyond-ref] — the clustering
# primitive under IVF coarse quantizers and SemDeDup-style semantic
# dedup, here in a HASH-CHECKABLE form: k = 8 seeds fixed to the 8
# smallest vec_ids, TWO Lloyd iterations unrolled, and every distance
# computed in an exact integer domain so the assignment argmin is
# bit-identical cross-engine:
#
# - components quantize to 1e-4 grid longs (|x| <= 0.58 -> |xq| <= 5800;
#   64-dim squared distances <= ~3.4e10, far inside int64);
# - the iter-2 centroid ROUNDS BACK to the grid (c_i = round(S_i / n)):
#   comparing true rational centroids across clusters of different n
#   would need 128-bit cross-multiplication, while the grid-rounded
#   centroid keeps every dist2 an exact long at any cluster size. The
#   S_i/n double is an exact-int division (correctly rounded, engine-
#   identical) and ties at representable .5 round away from zero in
#   both engines;
# - argmin ties break by cluster id (numpy first-argmin over ascending
#   cids / ROW_NUMBER order).
#
# Scale shape: both assignments are in-row Arrow projections against
# driver-held centers (k rows of ints, no join); the recompute is the
# canonical k-means shuffle — posexplode to (cluster, dim, component)
# and one exact-long partial-aggregated sum, collected as <= 8 x 64
# rows. No corpus-sized window or collect; iterations are a constant
# (2) by definition of the operator, not a convergence loop.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_Q = 10000
_KM_DIMS = 64


@register(
    "kmeans_fixed_assign",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
         LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * {_KM_Q}) AS BIGINT)) AS xq
  FROM embeddings
),
seeds AS (SELECT vec_id AS cid, xq AS sq FROM e WHERE vec_id < {_KM_K}),
d1 AS (
  SELECT e.vec_id, s.cid,
         (SELECT SUM((e.xq[i] - s.sq[i]) * (e.xq[i] - s.sq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, cid AS c1 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
sums AS (
  SELECT a1.c1 AS cid, t.i,
         SUM(e.xq[t.i]) AS s, COUNT(*) AS n
  FROM a1 JOIN e USING (vec_id),
       UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)
  GROUP BY a1.c1, t.i
),
cent AS (
  SELECT cid,
         LIST(CAST(ROUND(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cq
  FROM sums GROUP BY cid
),
d2 AS (
  SELECT e.vec_id, c.cid,
         (SELECT SUM((e.xq[i] - c.cq[i]) * (e.xq[i] - c.cq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM e CROSS JOIN cent c
),
a2 AS (
  SELECT vec_id, cid AS c2, CAST(dist AS BIGINT) AS dist_q2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
)
SELECT a1.vec_id, a1.c1 AS cluster_first, a2.c2 AS cluster_final,
       a2.dist_q2, a1.c1 <> a2.c2 AS moved
FROM a1 JOIN a2 USING (vec_id)
""",
    doc=(
        "[beyond-ref] deterministic k-means assignment: k=8 fixed-id "
        "seeds, two unrolled Lloyd iterations, exact integer-grid "
        "distances and grid-rounded centroids — the hash-checked "
        "clustering primitive under IVF / semantic dedup (SURVEY §2.10 "
        "similarity tier)"
    ),
)
def kmeans_fixed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Lloyd round is kmeans._lloyd_step, the one Spark-side step that
    # the unbounded fit_deterministic_kmeans loop and the SemDeDup
    # trainer (two_iter_lloyd_centers) also run, so this hash-checked
    # differential checks that step. Both assignments are in-row
    # projections over one scan of the corpus: cluster_first against
    # the driver-held seeds, cluster_final/dist_q2 against the step's
    # centers (non-empty cells only, as in the oracle's cent CTE).
    from ..operators.kmeans import _lloyd_step, inrow_assign, quantize_vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_vec(F.col("embedding"), _KM_Q).alias("xq")
    )
    seeds = sorted(
        (int(r.vec_id), [int(x) for x in r.xq])
        for r in e.where(F.col("vec_id") < _KM_K).collect()
    )
    cent = _lloyd_step(e, seeds)
    a1 = inrow_assign(e, seeds, cell_col="cluster_first")
    return inrow_assign(
        a1, cent, cell_col="cluster_final", dist_col="dist_q2"
    ).select(
        "vec_id",
        "cluster_first",
        "cluster_final",
        "dist_q2",
        (F.col("cluster_first") != F.col("cluster_final")).alias("moved"),
    )


# ---------------------------------------------------------------------------
# SemDeDup [beyond-ref] — semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540): cluster the embedding space with k-means, find
# within-cluster pairs whose cosine similarity exceeds a threshold,
# consolidate them into semantic-duplicate groups, and KEEP the member
# farthest from its cluster centroid (the paper's rule: the outlier
# carries the most marginal information; the near-centroid copies are
# the redundant ones).
#
# This is the second consumer of the deterministic Lloyd primitive
# (VERDICT r10 #3 named both branches: "IVF coarse quantizer OR the
# SemDeDup centroid stage" — IVF landed earlier in r11, this closes
# the other): the clustering stage below runs the same Lloyd step as
# kmeans_fixed_assign (operators/kmeans._lloyd_step — exact int64 grid
# distances, grid-rounded centroids, ties to the smaller cid), so the
# keeper rule's "distance to centroid" is an exact long both engines
# agree on bit-for-bit, not a float heuristic.
#
# Unlike embedding_near_dup (label-blocked: the blocking key comes from
# the corpus), the blocking here is LEARNED — two unrolled Lloyd
# iterations from fixed smallest-id seeds — so the differential checks
# the full pipeline a real SemDeDup run executes: train → assign →
# within-cell pairs → CC → farthest-from-centroid keeper.
#
# Scale shape: assignment is one in-row projection against the k
# driver-held centers (kmeans.inrow_assign); the pair join is equi on the
# learned cell, so pair work is Σ n_c² — bounded by scaling k with the
# corpus (the paper holds cluster size ~constant; the ladder below is
# that mechanism: k = 8 below 8192 rows, 32 to 16383, 128 at/above —
# cluster size stays a few hundred at every rung — mirrored by a
# scalar subquery in the oracle so both engines derive the SAME k from
# the data). CC is the three-tier operators/graph.dup_clusters; the
# keeper window partitions by dup cluster (bounded groups), never
# globally. At 100 TB: k ~ n/4096 cells, per-cell pair blocks of ~4096
# rows each — embarrassingly parallel, no corpus-sized window anywhere.
#
# Threshold provenance: the synthetic corpus is near-uniform random
# 64-d (max pair cosine ~0.47 — the LSH notes' measurement), so the
# near-dup band at 0.35 is the established house cut (embedding_near_dup
# precedent); pairs must ALSO share a learned cell, which is what makes
# this SemDeDup rather than all-pairs near-dup.
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35
# hold within-cell pair work ~linear: cluster size ~n/k stays a few
# hundred rows at every rung (8 → ~250 @2k, 32 → ~250 @8k, 128 →
# ~160 @20k sf1) — the paper's constant-cluster-size discipline; the
# oracle derives the SAME k from the data via this scalar subquery
_SEMDEDUP_K_LADDER = (
    "CASE WHEN COUNT(*) >= 16384 THEN 128 "
    "WHEN COUNT(*) >= 8192 THEN 32 ELSE 8 END"
)


# Shared oracle CTE chain for the SemDeDup family: two unrolled Lloyd
# iterations (recursive CTE only for the CC reachability), within-cell
# cosine pairs, CC labels, members, and the keeper ranking. The
# differential query selects `ranked` directly; the repair query maps
# it to per-doc actions (r12, VERDICT r11 #2).
_SEMDEDUP_CTES = f"""
WITH RECURSIVE e AS (
  SELECT vec_id,
         LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * {_KM_Q}) AS BIGINT)) AS xq
  FROM embeddings
),
seeds AS (
  -- ordered k-row take, mirroring operators/semdedup.semdedup_assign
  -- (ADVICE r12: the old `vec_id < k` form matches only on dense
  -- 0..n-1 ids; the generalized seed rule is the k SMALLEST ids)
  SELECT vec_id AS cid, xq AS sq FROM e
  ORDER BY vec_id LIMIT (SELECT {_SEMDEDUP_K_LADDER} FROM e)
),
d1 AS (
  SELECT e.vec_id, s.cid,
         (SELECT SUM((e.xq[i] - s.sq[i]) * (e.xq[i] - s.sq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, cid AS c1 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
sums AS (
  SELECT a1.c1 AS cid, t.i,
         SUM(e.xq[t.i]) AS s, COUNT(*) AS n
  FROM a1 JOIN e USING (vec_id),
       UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)
  GROUP BY a1.c1, t.i
),
cent AS (
  SELECT cid,
         LIST(CAST(ROUND(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cq
  FROM sums GROUP BY cid
),
d2 AS (
  SELECT e.vec_id, c.cid,
         (SELECT SUM((e.xq[i] - c.cq[i]) * (e.xq[i] - c.cq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM e CROSS JOIN cent c
),
a2 AS (
  SELECT vec_id, cid AS cell, CAST(dist AS BIGINT) AS dist_q2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
  FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
  JOIN ev a ON a.vec_id = x.vec_id
  JOIN ev b ON b.vec_id = y.vec_id
  WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
              (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6)
        >= {_SEMDEDUP_TAU}
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u
),
labels AS (
  SELECT n.u AS vec_id, LEAST(n.u, MIN(r.v)) AS cluster_id
  FROM (SELECT DISTINCT u FROM und) n JOIN reach r ON r.u = n.u
  GROUP BY n.u
),
members AS (
  SELECT l.vec_id, a2.cell, a2.dist_q2, l.cluster_id
  FROM labels l JOIN a2 USING (vec_id)
),
ranked AS (
  SELECT m.vec_id, m.cell, m.dist_q2, m.cluster_id,
         CAST(s.cs AS BIGINT) AS cluster_size,
         ROW_NUMBER() OVER (
           PARTITION BY m.cluster_id ORDER BY m.dist_q2 DESC, m.vec_id
         ) = 1 AS is_keeper
  FROM members m
  JOIN (SELECT cluster_id, COUNT(*) AS cs FROM members GROUP BY cluster_id) s
    USING (cluster_id)
)
"""


@register(
    "semantic_dedup_semdedup",
    oracle=_SEMDEDUP_CTES
    + """
SELECT vec_id, cell, dist_q2, cluster_id, cluster_size, is_keeper
FROM ranked
""",
    doc=(
        "[beyond-ref] SemDeDup semantic deduplication (arXiv:2303.09540): "
        "deterministic k-means clustering (k from a corpus-size ladder), "
        "within-cluster cosine >= 0.35 pairs, connected-component dup "
        "groups, keeper = farthest from centroid (exact int64 distance) "
        "(SURVEY §2.10 similarity/dedup tier)"
    ),
)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the pipeline moved to operators/semdedup.py so the corpus
    # build consumes the SAME keeper/drop decisions (drop_semantic) —
    # this query is now the hash-checked twin of that shared code path
    from ..operators.semdedup import semdedup_members

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_members(emb, tau=_SEMDEDUP_TAU)


@register(
    "semantic_dedup_repair",
    oracle=_SEMDEDUP_CTES
    + """
SELECT e.vec_id,
       CASE WHEN r.vec_id IS NOT NULL AND NOT r.is_keeper
            THEN 'drop_semantic' ELSE 'keep' END AS action,
       TRUE AS post_audit_clean
FROM e LEFT JOIN ranked r USING (vec_id)
""",
    doc=(
        "[beyond-ref] SemDeDup repair: per-vector keep/drop_semantic "
        "action ledger (drop = dup-cluster member that is not its "
        "cluster's keeper), with the post-action audit — pair detection "
        "re-run over the kept set under the same cell assignment finds "
        "zero pairs — asserted in-plan (SURVEY §2.10 training-data tier)"
    ),
)
def semantic_dedup_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION stage of the SemDeDup audit (VERDICT r11 #2 — the
    r9-leakage / r10-contamination audit→action pattern, closed for
    the semantic tier): exactly what
    ``corpus_pipeline.run_corpus_build(embeddings=...)`` consumes
    (operators/semdedup.semantic_actions), emitted per vector with the
    in-plan post-audit gate (literally TRUE in the oracle, so a broken
    keeper rule hard-fails the driver hash).

    Scale shape: see the operator — assignment is the in-row
    checkpointed pass, both pair joins are cell-equi under the k
    ladder, and the action join carries only (vec_id, flag) rows.
    """
    from ..operators.semdedup import semantic_actions

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_actions(emb, tau=_SEMDEDUP_TAU, audit=True)


# Incremental SemDeDup oracle (r13): seeds + two Lloyd iterations on
# the BASE slice only (vec_id % 3 != 0 — the established base/new
# split), every vector assigned against those centroids, pairs bounded
# to (new x base) ∪ (new x new) within cell, CC over the incremental
# pair set, keeper rank prefers BASE members (base-wins ingestion
# policy), actions emitted for NEW vectors only.
_SEMDEDUP_INC_CTES = f"""
WITH RECURSIVE e AS (
  SELECT vec_id,
         LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * {_KM_Q}) AS BIGINT)) AS xq,
         CASE WHEN vec_id % 3 = 0 THEN 0 ELSE 1 END AS is_base
  FROM embeddings
),
b AS (SELECT vec_id, xq FROM e WHERE is_base = 1),
seeds AS (
  SELECT vec_id AS cid, xq AS sq FROM b
  ORDER BY vec_id LIMIT (SELECT {_SEMDEDUP_K_LADDER} FROM b)
),
d1 AS (
  SELECT b.vec_id, s.cid,
         (SELECT SUM((b.xq[i] - s.sq[i]) * (b.xq[i] - s.sq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM b CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, cid AS c1 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
sums AS (
  SELECT a1.c1 AS cid, t.i,
         SUM(b.xq[t.i]) AS s, COUNT(*) AS n
  FROM a1 JOIN b USING (vec_id),
       UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)
  GROUP BY a1.c1, t.i
),
cent AS (
  SELECT cid,
         LIST(CAST(ROUND(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cq
  FROM sums GROUP BY cid
),
d2 AS (
  SELECT e.vec_id, c.cid,
         (SELECT SUM((e.xq[i] - c.cq[i]) * (e.xq[i] - c.cq[i]))
          FROM UNNEST(GENERATE_SERIES(1, {_KM_DIMS})) AS t(i)) AS dist
  FROM e CROSS JOIN cent c
),
a2 AS (
  SELECT vec_id, cid AS cell, CAST(dist AS BIGINT) AS dist_q2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2
  ) WHERE rn = 1
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
  FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
  JOIN e ex ON ex.vec_id = x.vec_id
  JOIN e ey ON ey.vec_id = y.vec_id
  JOIN ev a ON a.vec_id = x.vec_id
  JOIN ev b2 ON b2.vec_id = y.vec_id
  WHERE (ex.is_base = 0 OR ey.is_base = 0)
    AND ROUND(LIST_DOT_PRODUCT(a.v, b2.v) /
              (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b2.v, b2.v))), 6)
        >= {_SEMDEDUP_TAU}
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u
),
labels AS (
  SELECT n.u AS vec_id, LEAST(n.u, MIN(r.v)) AS cluster_id
  FROM (SELECT DISTINCT u FROM und) n JOIN reach r ON r.u = n.u
  GROUP BY n.u
),
ranked AS (
  SELECT m.vec_id, m.is_base,
         ROW_NUMBER() OVER (
           PARTITION BY m.cluster_id
           ORDER BY m.is_base DESC, m.dist_q2 DESC, m.vec_id
         ) AS rn
  FROM (
    SELECT l.vec_id, l.cluster_id, a2.dist_q2, e.is_base
    FROM labels l JOIN a2 USING (vec_id) JOIN e USING (vec_id)
  ) m
)
"""


@register(
    "semantic_dedup_incremental",
    oracle=_SEMDEDUP_INC_CTES
    + """
SELECT e.vec_id,
       CASE WHEN r.vec_id IS NOT NULL AND r.rn > 1
            THEN 'drop_semantic' ELSE 'keep' END AS action
FROM e LEFT JOIN ranked r USING (vec_id)
WHERE e.is_base = 0
""",
    doc=(
        "[beyond-ref] incremental SemDeDup: new-batch semantic-dup "
        "actions against an existing base corpus — clustering learned "
        "on the BASE only, new vectors assigned in-row (no refit), "
        "pairs bounded to new-side x full-side, base-wins keeper "
        "policy (the base is never retroactively dropped) "
        "(SURVEY §2.10 dedup/similarity tier)"
    ),
)
def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic tier's incremental twin (r13) — completing the
    family symmetry: exact dedup, MinHash, and banded-embedding
    near-dup each have an incremental form
    (``dedup.minhash_incremental_pairs``,
    ``similarity.banded_incremental_candidates``); SemDeDup now does
    too (``operators/semdedup.semdedup_incremental_actions``). Base =
    vec_id % 3 != 0, new = the rest (the established split).

    Scale shape: Lloyd runs on the base only (the quantizer is a
    base-corpus artifact, as in the ANN index pipeline); the new batch
    assigns in one broadcast-k pass; pair work is (new x full) within
    cell — batch-bounded, never corpus x corpus; CC runs over the
    incremental pair set only; the keeper window partitions by dup
    cluster. Base vectors are never emitted or dropped — the immutable-
    corpus ingestion policy a streaming pipeline needs.
    """
    from ..operators.semdedup import semdedup_incremental_actions

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    return semdedup_incremental_actions(base, new, tau=_SEMDEDUP_TAU)


@register(
    "semantic_dedup_served",
    oracle=_SEMDEDUP_INC_CTES
    + """
SELECT e.vec_id,
       CASE WHEN r.vec_id IS NOT NULL AND r.rn > 1
            THEN 'drop_semantic' ELSE 'keep' END AS action,
       TRUE AS served_matches_memory
FROM e LEFT JOIN ranked r USING (vec_id)
WHERE e.is_base = 0
""",
    doc=(
        "[beyond-ref] production incremental-SemDeDup serving contract: "
        "the new batch is decided against PERSISTED artifacts "
        "(cell-partitioned base parquet + JSON centroids read from "
        "disk, the batch's base read statically pruned to its cells), "
        "gated in-plan on row-identity with the in-memory operator "
        "(SURVEY §2.10 dedup/similarity tier)"
    ),
)
def semantic_dedup_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic tier's ``similarity_index_served`` analog (r14,
    VERDICT r13 #4): ``fit_semdedup_base`` once per (process, corpus)
    into a temp directory, then the new batch's action ledger is
    SERVED from the persisted artifacts through
    ``semdedup_pipeline.semdedup_incremental_served`` — the same
    decisions a ``run_streaming_semdedup`` microbatch would make. The
    ``served_matches_memory`` gate (literally TRUE in the oracle)
    asserts per-vector action identity with the in-memory
    ``semdedup_incremental_actions`` under the same (base, k, tau) —
    serving from disk must not change a single decision.

    Scale shape: the fit runs once and amortizes; each served batch
    assigns in-row against kilobyte centroids, resolves its distinct
    cells driver-side (≤ k ints), and reads ONLY those cell
    directories of the base store (static prune); pair work is
    (new × pruned-base) ∪ (new × new) within cells.
    """
    from ..operators.semdedup import semdedup_incremental_actions
    from ..semdedup_pipeline import (
        fit_semdedup_base,
        semdedup_incremental_served,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)

    out_dir, _ = _build_dir_once(
        ("semdedup", sf_dir),
        lambda d: fit_semdedup_base(base, d, tau=_SEMDEDUP_TAU),
        "base",
    )

    # Sharing the twice-consumed serve result was A/B-measured four
    # ways (r15): plain lazy min 9.08 s, eager localCheckpoint 8.79 s
    # (tie within host noise), persist() 18-22 s and non-eager
    # checkpoint 19 s (both catastrophic — the lazy materializations
    # degrade the downstream gate plan). With no measurable win the
    # plain form stays: simplest plan, keeps the serve subtree visible
    # to the plan-shape window guard, matches the canonical baseline.
    #
    # r16 (VERDICT r15 #1): the served and in-memory constructions are
    # independent by data, and each runs a chain of sequential eager
    # driver jobs (assignment checkpoint + cell resolve on the served
    # side; base count + Lloyd seed/sums collects + assignment
    # checkpoint on the memory side) — overlap them on driver threads
    # (guide §2.6). Neither leg frees a block, so neither can free the
    # other's; the checkpoints under their lazy results stay the
    # caller's. Per-leg plans unchanged.
    from ..operators.cache import run_concurrently

    served, mem = run_concurrently(
        lambda: semdedup_incremental_served(spark, new, out_dir).select(
            "vec_id", "action"
        ),
        lambda: semdedup_incremental_actions(
            base, new, tau=_SEMDEDUP_TAU
        ).select("vec_id", F.col("action").alias("m_action")),
        spark=spark,
    )
    gate = served.join(mem, "vec_id", "full_outer").agg(
        (
            F.sum(
                F.when(F.col("action") == F.col("m_action"), 1).otherwise(0)
            )
            == F.count("*")
        ).alias("served_matches_memory")
    )
    return served.crossJoin(F.broadcast(gate))
