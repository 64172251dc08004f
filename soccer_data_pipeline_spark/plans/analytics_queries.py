"""[beyond-ref] Distribution, sequence, graph, and corpus-analytics
operators (the round-6 widening of SURVEY §2.10).

Every family here is new to the registry this round, designed
100-TB-first and mirrored by a DuckDB oracle. The shared disciplines:

- **Post-agg-first**: windows, grids, ranks, and normalizations run on
  frames the first hash agg has already collapsed to constant or
  dim-sized cardinality (langs × bins, |event_type|², calendar days,
  vocabulary, contingency cells) — never on corpus rows.
- **Integer-exact where hashes demand it**: thresholds compare integers
  (heavy hitters), medians interpolate on scaled integers (MAD,
  percentile bands, gaps), moments/CUSUM/Gini accumulate as longs, and
  probability/share columns are single double divisions of exact longs.
- **Ordered folds for transcendental sums**: entropy, cross-entropy,
  PageRank, and χ² sum their float terms in an explicit key order on
  BOTH engines (sorted collect_list fold vs LIST_SUM over an ordered
  LIST), making the results bit-identical — rounding alone cannot fix
  association-order divergence.
- **Hot-key caps** on anything quadratic: the supplier co-purchase
  graph (triangles / PageRank / k-core) caps parts at 16 distinct
  suppliers — bounding per-part pair expansion AND keeping the edge
  set sparse (uncapped it saturates to 499k of 500k possible edges at
  sf0.1).

Families, grouped: corpus profiling (``doc_length_histogram``,
``char_entropy_quality``, ``heavy_hitter_tokens``, ``bpe_pair_counts``,
``unigram_cross_entropy``, ``shingle_containment_pairs``); sequence
analytics (``event_transition_matrix``, ``conversion_attribution``,
``inter_event_gap_stats``, ``market_basket_lift``); time series
(``event_gapfill_daily``, ``daily_value_percentiles``,
``daily_anomaly_flags``); graph (``triangle_count_suppliers``,
``pagerank_suppliers``, ``kcore_peel_suppliers``); statistics
(``mad_outlier_audit``, ``ols_price_by_quantity``,
``chi_square_independence``, ``revenue_concentration``,
``join_key_skew_audit``); warehouse/ops (``scd2_as_of``,
``incremental_agg_maintenance``, ``gdpr_delete_audit``,
``referential_integrity_audit``); training-pair assembly
(``contrastive_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Corpus profiling: binned length histogram per language.
# ---------------------------------------------------------------------------


@register(
    "doc_length_histogram",
    oracle="""
WITH b AS (
  SELECT lang,
         CAST(LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 9) AS BIGINT) AS len_bin
  FROM documents
)
SELECT lang, len_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE) AS lang_share
FROM b
GROUP BY lang, len_bin
""",
    doc="[beyond-ref] fixed-width length histogram per language (corpus profiling)",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned document-length distribution per language.

    Scale shape: ONE hash agg (map-side combined) over the corpus; the
    share window runs on the aggregated frame only (langs × 10 rows).
    The bin id is integer-exact in both engines (floor of a small
    double, capped), so the differential is bit-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    len_bin = F.least(
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("long"), F.lit(9).cast("long")
    ).alias("len_bin")
    counts = docs.groupBy("lang", len_bin).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "len_bin",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "lang_share"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence analytics: first-order Markov transition matrix.
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
WITH p AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
c AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM p WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_trans,
       CAST(n_trans AS DOUBLE)
         / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_trans
FROM c
""",
    doc="[beyond-ref] Markov event-type transition counts + row-normalized probabilities",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences.

    Scale shape: one shuffle on user_id for the lag (deterministic
    (ts, event_id) sequence order), then a hash agg whose output
    cardinality is |event_type|² — constant in corpus size, so the
    normalizing window is free. The probability is a single double
    division of two exact longs — bit-identical across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n_trans"))
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_trans",
        (
            F.col("n_trans").cast("double") / F.sum("n_trans").over(wp).cast("double")
        ).alias("p_trans"),
    )


# ---------------------------------------------------------------------------
# Time-series resample: dense daily grid with zero-fill.
# ---------------------------------------------------------------------------


@register(
    "event_gapfill_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
span AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
days AS (
  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, d.day, CAST(COALESCE(x.n_events, 0) AS BIGINT) AS n_events
FROM days d CROSS JOIN types t
LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
""",
    doc="[beyond-ref] calendar gap-fill resample: dense day x type grid, zero-filled",
)
def event_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts on a DENSE calendar (missing days → 0).

    Scale shape: the corpus-sized table is reduced FIRST (daily hash
    agg); the dense grid is sequence-exploded from a 1-row min/max
    span crossed with the distinct event types, and the gap-fill left
    join runs post-agg (days × types rows on the build side — always
    broadcast-sized, regardless of corpus scale).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n_events"))
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = span.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(types)
    return grid.join(F.broadcast(daily), ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Text quality: per-document character-distribution Shannon entropy.
# ---------------------------------------------------------------------------


@register(
    "char_entropy_quality",
    oracle="""
WITH ch AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '')) AS c FROM documents
),
cc AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ch WHERE c <> '' GROUP BY doc_id, c
),
ag AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
         LIST_SUM(
           LIST_TRANSFORM(LIST(cnt ORDER BY c), x -> x * LN(CAST(x AS DOUBLE)))
         ) AS s
  FROM cc GROUP BY doc_id
)
SELECT doc_id, n_chars_counted,
       ROUND(LN(CAST(n_chars_counted AS DOUBLE)) - s / n_chars_counted, 6)
         AS char_entropy_nats
FROM ag
""",
    doc="[beyond-ref] per-doc char-distribution Shannon entropy (boilerplate signal), zero-shuffle",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each document's character distribution.

    Low entropy flags repetitive/boilerplate text — a quality signal
    orthogonal to quality_score's ratio gates (a doc of 'aaaa…' has
    perfect length/punct ratios but entropy ≈ 0).

    Scale shape: fully NARROW — per row, sort the char array and fold
    run-lengths in ONE ``F.aggregate`` pass (a run boundary in the
    sorted array closes one distinct char's count); no explode, no
    shuffle, nothing leaves the scan task. H = ln(N) − Σ nᵢ·ln(nᵢ)/N.

    Cross-engine float determinism: both engines accumulate the
    nᵢ·ln(nᵢ) terms in char-sorted order (fold here, ordered LIST_SUM
    in the oracle), so the sums see identical operands in identical
    order and the rounded result is bit-exact.
    """
    from ..operators.skew import spread_for_compute

    # per-row char sort + entropy fold is scan-stage interpreted HOF
    # work — spread a narrow local scan first (guide §2.5; no-op at
    # scale where the scan is already parallel)
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    chars = F.array_sort(F.filter(F.split("text", ""), lambda x: x != ""))
    term = lambda run: F.when(  # noqa: E731
        run > 0, run.cast("double") * F.log(run.cast("double"))
    ).otherwise(F.lit(0.0))
    folded = F.aggregate(
        chars,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(x == acc["prev"], acc["s"]).otherwise(acc["s"] + term(acc["run"])).alias("s"),
        ),
        lambda acc: acc["s"] + term(acc["run"]),
    )
    n = F.size(chars).cast("long")
    # Empty/null text drops out: the oracle's UNNEST emits no rows for
    # it, so Spark must not emit a 0-char row with log(0)/0-division
    # entropy either (ADVICE r6). The predicate is length(text) > 0 —
    # equivalent to size(chars) > 0 (every non-empty text yields ≥ 1
    # non-empty char) but it does NOT re-evaluate the sort+filter
    # `chars` expression, which Catalyst would otherwise compute twice
    # (filter + project have no CSE across them; measured 4.25× on the
    # bench when the filter used size(chars)).
    return (
        docs.where(F.length("text") > 0)
        .select(
            "doc_id",
            n.alias("n_chars_counted"),
            F.round(F.log(n.cast("double")) - folded / n.cast("double"), 6).alias(
                "char_entropy_nats"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters over the token stream.
# ---------------------------------------------------------------------------


@register(
    "heavy_hitter_tokens",
    oracle="""
WITH t AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
f AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t WHERE token <> '' GROUP BY token
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM f)
SELECT token, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS token_share
FROM f, tot
WHERE n * 200 >= total
""",
    doc="[beyond-ref] exact global heavy hitters: tokens with >= 0.5% share, integer-exact threshold",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens holding ≥ 0.5% of all token occurrences, with exact share.

    Scale shape: explode → hash agg with map-side partial combine —
    each task emits its DISTINCT tokens (Zipf ⇒ far fewer than its
    occurrences), so the shuffle carries the vocabulary, not the
    corpus. The global total rides a 1-row broadcast cross join (no
    driver action), and the threshold compares integers (n·200 ≥
    total) so both engines select exactly the same rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n") * 200 >= F.col("_total"))
        .select(
            "token",
            "n",
            (F.col("n").cast("double") / F.col("_total").cast("double")).alias(
                "token_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE induction step: global adjacent character-pair frequencies.
# ---------------------------------------------------------------------------


@register(
    "bpe_pair_counts",
    oracle="""
WITH tk AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
tk2 AS (SELECT token FROM tk WHERE LENGTH(token) >= 2),
bg AS (
  SELECT SUBSTRING(token, CAST(i AS INTEGER), 2) AS pair
  FROM tk2, UNNEST(generate_series(1, LENGTH(token) - 1)) AS u(i)
),
c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY pair),
r AS (SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk FROM c)
SELECT pair, n, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20
""",
    doc="[beyond-ref] one BPE-induction step: top-20 adjacent char pairs, deterministic rank",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global adjacent character-pair frequencies — the counting step of
    one BPE vocabulary-induction merge (the pair a tokenizer trainer
    would merge next is rk=1).

    Scale shape: pair generation is NARROW per token (`transform` over
    a `sequence` of offsets — no join against an index table); the
    explode feeds a map-side-combined hash agg whose output is at most
    |alphabet|² rows, and the deterministic global rank (count desc,
    pair asc) is k-bounded: ``bounded_topk`` plans the selection as
    ``TakeOrderedAndProject`` (per-task 20-row heaps) and recovers the
    rank inside one 20-element array — no single-partition WindowExec
    even if the pair alphabet were unicode-sized.
    """
    from ..operators.topk import bounded_topk
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.length("token") >= 2
    )
    bigrams = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.col("token").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = bigrams.groupBy("pair").agg(F.count("*").alias("n"))
    return bounded_topk(
        counts,
        20,
        [F.desc("n"), F.asc("pair")],
        [
            (-F.col("n")).alias("_s0"),
            F.col("pair").alias("pair"),
            F.col("n").alias("n"),
        ],
        ["pair", "n"],
    )


# ---------------------------------------------------------------------------
# Graph analytics: triangle counting + PageRank on the supplier
# co-purchase graph. Both queries share one edge construction: suppliers
# are adjacent iff they ship the same part, with a hot-part cap of 16
# distinct suppliers (bounds per-part pair expansion at C(16,2) AND
# keeps the edge set sparse — uncapped, the graph saturates to
# near-complete: 499,483 of 499,500 possible edges at sf0.1).
# ---------------------------------------------------------------------------

_SUPPLIER_EDGE_CTES = """
ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
  SELECT l_partkey FROM ps GROUP BY l_partkey
  HAVING COUNT(*) <= 16
),
e AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  JOIN ok ON ok.l_partkey = a.l_partkey
)"""


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (u < v) supplier co-purchase edge set — the Spark
    twin of ``_SUPPLIER_EDGE_CTES``. Eagerly materialized
    (operators/cache.py discipline): every consumer self-joins it
    several times, and the edge set is small by the cap's construction
    while the scan→distinct→cap chain upstream is not. The caller owns
    the checkpoint: a loop whose result stops reading it releases it."""
    from ..operators.cache import checkpoint_owned

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    ok = (
        ps.groupBy("l_partkey")
        .agg(F.count("*").alias("_ns"))
        .where(F.col("_ns") <= 16)
        .select("l_partkey")
    )
    a, b = ps.alias("a"), ps.alias("b")
    return checkpoint_owned(
        a.join(F.broadcast(ok), "l_partkey")
        .join(b, "l_partkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )


@register(
    "triangle_count_suppliers",
    oracle=f"""
WITH {_SUPPLIER_EDGE_CTES},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM tri
""",
    doc="[beyond-ref] triangle count in the supplier co-purchase graph, hot-part cap 16",
)
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the graph where suppliers are adjacent iff they ship
    the same part — graph analytics beyond the connected-components
    tier (operators/graph.py).

    Scale shape: (1) project + distinct BEFORE any join (only
    (partkey, suppkey) pairs shuffle); (2) hot-part cap — parts with
    > 16 distinct suppliers are excluded. The cap does double duty:
    it bounds the per-part pair expansion at C(16,2) (the same
    hot-bucket-cap discipline as the LSH band joins in
    operators/dedup.py:244) AND it keeps the edge set sparse — the
    uncapped graph saturates to near-complete (measured 499,483 of
    499,500 possible edges at sf0.1, which drove the e1⋈e2 wedge
    expansion to ~2.5×10⁸ rows and 129 s; cap 16 → 11,377 edges,
    sub-second); (3) u<v<w orientation counts each triangle exactly
    once and halves every join's build side. The three-way self-join
    shuffles only the capped edge set (checkpointed once via
    ``_supplier_edges`` — consumed four times below; the boundary cut
    the query from 15.7 s to ~4 s at sf0.1).
    """
    from ..operators.graph import triangle_count

    return triangle_count(_supplier_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Training-pair assembly: deterministic negative sampling.
# ---------------------------------------------------------------------------


@register(
    "contrastive_pairs",
    oracle="""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
anc AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id % 29 = 0),
cand AS (
  SELECT anchor_id, CAST(j AS BIGINT) AS neg_idx,
         ((anchor_id % 1000003) * 2654435761 + CAST(j AS BIGINT) * 40503) % n.n_docs AS neg_id
  FROM anc, n, UNNEST(generate_series(1, 4)) AS s(j)
)
SELECT c.anchor_id, c.neg_idx, c.neg_id, d.lang AS neg_lang
FROM cand c JOIN documents d ON d.doc_id = c.neg_id
WHERE c.neg_id <> c.anchor_id
""",
    doc="[beyond-ref] deterministic negative sampling: k hash-indexed negatives per anchor",
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=4 pseudo-random negatives per anchor document, fully
    deterministic (Knuth multiplicative hash of (anchor, j) mod corpus
    size) — the pair-assembly step of contrastive embedding training.

    Scale shape: no random(), no driver-side sampling — the negative
    index is a computed column realized by an equi-join on doc_id, so
    the plan is a plain shuffle-or-broadcast hash join and the output
    is reproducible (and therefore shardable/resumable) at any scale.
    The corpus size rides a 1-row broadcast cross join.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("_n_docs"))
    anchors = docs.where(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("anchor_id")
    )
    cand = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("neg_idx"),
            "_n_docs",
        )
        .select(
            "anchor_id",
            F.col("neg_idx").cast("long").alias("neg_idx"),
            # anchor_id is reduced mod the prime 1_000_003 BEFORE the
            # Knuth multiply: max product ≈ 2.7e15, safely inside int64
            # for any doc_id (the unreduced form overflows ANSI int64
            # arithmetic past doc_id ≈ 3.5e9 — ADVICE r6).
            (
                (
                    (F.col("anchor_id") % 1000003) * F.lit(2654435761)
                    + F.col("neg_idx") * 40503
                )
                % F.col("_n_docs")
            ).alias("neg_id"),
        )
        .where(F.col("neg_id") != F.col("anchor_id"))
    )
    return cand.join(
        docs.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")),
        "neg_id",
    ).select("anchor_id", "neg_idx", "neg_id", "neg_lang")


# ---------------------------------------------------------------------------
# LM-quality scoring: per-document unigram cross-entropy vs the corpus.
# ---------------------------------------------------------------------------


@register(
    "unigram_cross_entropy",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
gf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS gf FROM tf GROUP BY token),
tot AS (SELECT CAST(SUM(gf) AS BIGINT) AS t FROM gf),
j AS (SELECT tf.doc_id, tf.token, tf.tf, gf.gf FROM tf JOIN gf USING (token)),
ag AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         LIST_SUM(
           LIST_TRANSFORM(
             LIST(struct_pack(tf := tf, gf := gf) ORDER BY token),
             r -> r.tf * LN(CAST(r.gf AS DOUBLE))
           )
         ) AS s
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(LN(CAST(tot.t AS DOUBLE)) - s / n_tokens, 6) AS unigram_xent_nats
FROM ag, tot
""",
    doc="[beyond-ref] per-doc unigram cross-entropy vs corpus (CCNet-style LM quality filter)",
)
def unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy of each document under the corpus unigram model —
    the CCNet/RedPajama-style language-model quality filter: unusually
    low cross-entropy ⇒ boilerplate, unusually high ⇒ noise/garble.

    H(doc) = −Σ_t (tf_t/N) · ln(gf_t/T) = ln(T) − Σ_t tf_t·ln(gf_t)/N.

    Scale shape: tf is one (doc,token)-keyed hash agg; gf is a
    vocabulary-sized agg OF tf (never re-touches the corpus); the
    tf⋈gf join is vocabulary-keyed; the per-doc reduce shuffles one
    row per distinct (doc, token). The corpus total rides a 1-row
    broadcast cross join.

    Cross-engine float determinism: the per-doc Σ tf·ln(gf) terms are
    summed IN TOKEN ORDER on both engines — Spark folds a sorted
    collect_list, DuckDB LIST_SUMs a LIST(... ORDER BY token) — so
    both see identical operands in identical order (same discipline as
    char_entropy_quality).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    gf = tf.groupBy("token").agg(F.sum("tf").alias("gf"))
    tot = gf.agg(F.sum("gf").alias("_t"))
    j = tf.join(gf, "token")
    ag = j.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("token", "tf", "gf"))),
            F.lit(0.0),
            lambda acc, r: acc
            + r["tf"].cast("double") * F.log(r["gf"].cast("double")),
        ).alias("s"),
    )
    return ag.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.log(F.col("_t").cast("double"))
            - F.col("s") / F.col("n_tokens").cast("double"),
            6,
        ).alias("unigram_xent_nats"),
    )


# ---------------------------------------------------------------------------
# Marketing-style attribution: first-touch / last-touch per conversion.
# ---------------------------------------------------------------------------


@register(
    "conversion_attribution",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         FIRST_VALUE(event_type)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM events
)
SELECT first_touch, COALESCE(last_touch, 'none') AS last_touch,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM seq
WHERE event_type = 'purchase'
GROUP BY first_touch, COALESCE(last_touch, 'none')
""",
    doc="[beyond-ref] first-touch/last-touch conversion attribution over user event sequences",
)
def conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution table: for every conversion ('purchase'), credit the
    user's FIRST event type ever (first touch) and the latest
    non-conversion event type strictly before it (last touch).

    Scale shape: one shuffle on user_id feeds both window passes
    (identical partitioning + (ts, event_id) sort, so Spark stacks
    them on a single Exchange/Sort); the conversion filter then
    reduces to a hash agg whose output is |event_type|² — constant in
    corpus size. Ties are broken by event_id, so both engines see the
    same sequence order.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = ev.select(
        "event_type",
        F.first("event_type").over(w).alias("first_touch"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(wprev)
        .alias("last_touch"),
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(
            "first_touch", F.coalesce("last_touch", F.lit("none")).alias("last_touch")
        )
        .agg(F.count("*").alias("n_conversions"))
    )


# ---------------------------------------------------------------------------
# Graph centrality: PageRank (3 fixed power iterations) on the supplier
# co-purchase graph.
# ---------------------------------------------------------------------------

_PR_ITER = """
r{k} AS (
  SELECT und.v AS u,
         CAST(0.15 AS DOUBLE) / CAST(n.n AS DOUBLE)
         + CAST(0.85 AS DOUBLE) * LIST_SUM(
             LIST_TRANSFORM(
               LIST(struct_pack(u := und.u, c := r{p}.r / CAST(deg.od AS DOUBLE))
                    ORDER BY und.u),
               x -> x.c
             )
           ) AS r
  FROM und
  JOIN r{p} ON r{p}.u = und.u
  JOIN deg ON deg.u = und.u
  CROSS JOIN n
  GROUP BY und.v, n.n
)"""


@register(
    "pagerank_suppliers",
    oracle=f"""
WITH {_SUPPLIER_EDGE_CTES},
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od FROM und GROUP BY u),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT u, CAST(1.0 AS DOUBLE) / CAST(n.n AS DOUBLE) AS r FROM deg CROSS JOIN n),
{_PR_ITER.format(k=1, p=0)},
{_PR_ITER.format(k=2, p=1)},
{_PR_ITER.format(k=3, p=2)},
top AS (SELECT u, r, ROW_NUMBER() OVER (ORDER BY r DESC, u) AS rk FROM r3)
SELECT CAST(u AS BIGINT) AS supplier, ROUND(r, 8) AS pagerank, CAST(rk AS BIGINT) AS rk
FROM top WHERE rk <= 10
""",
    doc="[beyond-ref] PageRank (3 power iterations, d=0.85) on the supplier co-purchase graph",
)
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers by PageRank after three fixed power iterations
    (damping 0.85) over the undirected (mirrored) capped co-purchase
    graph — the centrality tier of the graph family (components:
    operators/graph.py; triangles: above).

    Scale shape: the per-iteration step is one edge⋈rank⋈degree join
    and one destination-keyed agg over the (capped, sparse) edge set —
    never the corpus. Fixed iteration count keeps the plan static; a
    production variant would loop with the per-round checkpoint
    discipline of operators/graph.py:connected_components. The top-10
    selection is k-bounded (``bounded_topk`` → TakeOrderedAndProject +
    in-array rank): the rank frame is node-sized, which grows with the
    graph, so no single-partition WindowExec over it.

    Cross-engine float determinism: every per-node contribution sum is
    folded in contributor order on both engines (sorted collect_list
    fold vs LIST_SUM over LIST(... ORDER BY u)), and the damping
    arithmetic uses identical double literals — so the rank doubles
    are bit-identical and the final (r DESC, u) ordering agrees.
    """
    from ..operators.graph import pagerank
    from ..operators.topk import bounded_topk

    # teleport=0.15 pinned as the literal the oracle SQL parses — NOT
    # 1.0-0.85, which is a different double (see operators/graph.py).
    r = pagerank(_supplier_edges(spark, sf_dir), iters=3, damping=0.85, teleport=0.15)
    t = r.select(F.col("node").alias("supplier"), "r")
    return bounded_topk(
        t,
        10,
        [F.desc("r"), F.asc("supplier")],
        [
            (-F.col("r")).alias("_s0"),
            F.col("supplier").alias("supplier"),
            F.round("r", 8).alias("pagerank"),
        ],
        ["supplier", "pagerank"],
    )


# ---------------------------------------------------------------------------
# Robust statistics: median-absolute-deviation outlier audit.
# ---------------------------------------------------------------------------


@register(
    "mad_outlier_audit",
    oracle="""
WITH c AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 2 AS hc
  FROM lineitem
),
med AS (SELECT flag, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY hc) AS med FROM c GROUP BY flag),
dev AS (
  SELECT c.flag, med.med, ABS(c.hc - med.med) AS dev
  FROM c JOIN med ON med.flag = c.flag
),
mad AS (SELECT flag, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY dev) AS mad FROM dev GROUP BY flag)
SELECT d.flag AS l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MAX(d.med) / 200.0 AS median_price,
       MAX(m.mad) / 200.0 AS mad_price,
       CAST(SUM(CASE WHEN d.dev > 4.5 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.flag = d.flag
GROUP BY d.flag
""",
    doc="[beyond-ref] robust outlier audit: per-group median/MAD with 4.5-MAD outlier counts",
)
def mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag robust dispersion audit: exact median and median
    absolute deviation of extended price, and how many rows sit more
    than 4.5 MADs from the median (the robust outlier rule — immune to
    the outliers it is hunting, unlike mean/stddev).

    Numeric discipline: prices become integer HALF-cents (cents × 2)
    so both medians interpolate on exact integers — midpoints land on
    .5 steps that are exactly representable, deviations are exact
    halves, and the 4.5 multiplier is a dyadic rational, so the
    outlier comparison is bit-deterministic in both engines. Division
    by 200 back to currency happens only at output.

    Scale shape (r15): the fact table is scanned ONCE and compressed
    to (flag, half-cent, count) — map-side combinable, so the shuffle
    carries the distinct-value histogram, not the rows. Both medians
    run as FREQUENCY-WEIGHTED exact percentiles over that histogram
    (``percentile(col, p, frequency)`` expands to the identical
    sorted-value interpolation — same doubles, bit-for-bit), and the
    outlier count folds the same histogram weights. The r14 form
    re-scanned the corpus three times and buffered every raw row in
    the percentile state; this buffers one entry per DISTINCT price
    per flag (the natural compressed domain) — strictly less state at
    any scale, and the percentile interpolation arithmetic is
    unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            (F.round(F.col("l_extendedprice") * 100).cast("long") * 2).alias("hc"),
        )
        .groupBy("flag", "hc")
        .agg(F.count("*").alias("w"))
    )
    med = g.groupBy("flag").agg(
        F.percentile("hc", F.lit(0.5), F.col("w")).alias("med")
    )
    dev = g.join(F.broadcast(med), "flag").select(
        "flag", "med", F.abs(F.col("hc") - F.col("med")).alias("dev"), "w"
    )
    mad = dev.groupBy("flag").agg(
        F.percentile("dev", F.lit(0.5), F.col("w")).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "flag")
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.sum("w").alias("n_rows"),
            (F.max(F.col("med")) / F.lit(200.0)).alias("median_price"),
            (F.max(F.col("mad")) / F.lit(200.0)).alias("mad_price"),
            F.sum(
                F.when(F.col("dev") > F.lit(4.5) * F.col("mad"), F.col("w")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# CDC family completion: point-in-time reconstruction over SCD2 history.
# ---------------------------------------------------------------------------

# 1998-07-01T00:00:00Z — mid-range of the orders change log.
_AS_OF_US = 899_251_200_000_000


def _scd2_oracle() -> str:
    from .registry import ORACLES

    return ORACLES["scd2_history"]


@register(
    "scd2_as_of",
    oracle=f"""
WITH hist AS ({_scd2_oracle()})
SELECT custkey, version, priority, valid_from_us
FROM hist
WHERE valid_from_us <= {_AS_OF_US}
  AND (valid_to_us IS NULL OR valid_to_us > {_AS_OF_US})
""",
    doc="[beyond-ref] point-in-time (AS OF) reconstruction over the SCD2 history",
)
def scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct every customer's tracked attribute AS OF a fixed
    instant from the SCD2 history — the read-side completion of the
    CDC tier (scd2_history builds versions; this answers 'what did the
    dimension look like at time T?').

    Scale shape: inherits scd2_history's single-Exchange build; the
    AS OF predicate is a per-row filter on the version bounds
    ([valid_from, valid_to) half-open, so exactly one version matches
    per key), adding zero shuffles.
    """
    from .curation_queries import scd2_history

    hist = scd2_history(spark, sf_dir)
    t = F.lit(_AS_OF_US)
    return hist.where(
        (F.col("valid_from_us") <= t)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > t))
    ).select("custkey", "version", "priority", "valid_from_us")


# ---------------------------------------------------------------------------
# Regression analytics: closed-form per-group OLS from exact moments.
# ---------------------------------------------------------------------------


@register(
    "ols_price_by_quantity",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6) AS slope_per_unit,
       ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS intercept_price
FROM m
""",
    doc="[beyond-ref] per-group closed-form OLS (price ~ quantity) from exact integer moments",
)
def ols_price_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope/intercept of extended price on quantity per
    returnflag, computed from EXACT integer moment sums (n, Σx, Σy,
    Σxy, Σx²) — the group-wise regression tier.

    Numeric discipline: quantities and prices are integral (units /
    cents), so every moment is an exact BIGINT (Σxy ≈ 3×10¹⁴ at sf0.1
    — far inside int64; at larger corpora promote the moments to
    DECIMAL). Only the final slope/intercept arithmetic runs in
    doubles, with an identical expression tree in both engines —
    deterministic even where not exact. Built-in ``regr_slope`` is the
    convenience form; this construction pins cross-engine bits.

    Scale shape: one map-side-combined hash agg (5 moments per group),
    then per-group scalar math on a 3-row frame. The canonical
    'reduce to sufficient statistics' pattern — nothing but the
    moments ever leaves the scan stage.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = sy / n - slope * sx / n
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope / 100.0, 6).alias("slope_per_unit"),
        F.round(intercept / 100.0, 6).alias("intercept_price"),
    )


# ---------------------------------------------------------------------------
# Distribution testing: chi-square independence gate (source vs lang).
# ---------------------------------------------------------------------------


@register(
    "chi_square_independence",
    oracle="""
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY source, lang
),
rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY source),
ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY lang),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT c.source, c.lang,
         (CAST(c.o AS DOUBLE)
          - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)) AS d,
         CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
  FROM cells c JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
)
SELECT ROUND(LIST_SUM(
         LIST_TRANSFORM(
           LIST(struct_pack(k := source || '|' || lang, t := d * d / e)
                ORDER BY source, lang),
           x -> x.t)), 6) AS chi2,
       CAST((SELECT (COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1)
             FROM cells) AS BIGINT) AS dof,
       CAST((SELECT n FROM n) AS BIGINT) AS n_rows
FROM terms
""",
    doc="[beyond-ref] chi-square independence gate: source x lang contingency audit",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for 'is document language
    independent of source?' — the contingency-table sibling of the
    split-drift TVD gate (a skewed source⇄lang association is a
    corpus-mix red flag).

    Scale shape: the corpus collapses to |source|×|lang| cells at the
    FIRST hash agg; row/column totals and the grand total are
    aggregates of that tiny frame, broadcast back in. The χ² sum folds
    the per-cell terms in (source, lang) order on both engines (sorted
    collect_list fold vs ordered LIST_SUM), so the statistic is
    bit-exact cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    rt = cells.groupBy("source").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("lang").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("_n"))
    terms = (
        cells.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "lang",
            (
                F.col("o").cast("double")
                - F.col("rt").cast("double")
                * F.col("ct").cast("double")
                / F.col("_n").cast("double")
            ).alias("d"),
            (
                F.col("rt").cast("double")
                * F.col("ct").cast("double")
                / F.col("_n").cast("double")
            ).alias("e"),
        )
    )
    dof = cells.agg(
        (
            (F.countDistinct("source") - 1) * (F.countDistinct("lang") - 1)
        ).alias("dof")
    )
    chi2 = terms.agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.concat_ws("|", "source", "lang").alias("k"),
                            (F.col("d") * F.col("d") / F.col("e")).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ),
            6,
        ).alias("chi2")
    )
    return (
        chi2.crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(n))
        .select("chi2", F.col("dof").cast("long").alias("dof"), F.col("_n").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# Association rules: event-type co-occurrence lift (market-basket lite).
# ---------------------------------------------------------------------------


@register(
    "market_basket_lift",
    oracle="""
WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM d),
na AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS na FROM d GROUP BY event_type),
ab AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT ab.type_a, ab.type_b, ab.n_ab,
       ROUND(CAST(ab.n_ab AS DOUBLE) * CAST(n.n AS DOUBLE)
             / (CAST(x.na AS DOUBLE) * CAST(y.na AS DOUBLE)), 6) AS lift
FROM ab
JOIN na x ON x.event_type = ab.type_a
JOIN na y ON y.event_type = ab.type_b
CROSS JOIN n
""",
    doc="[beyond-ref] association-rule lift over per-user event-type baskets",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence lift between event types across user
    baskets — lift > 1 means the pair co-occurs more than independent
    attachment rates predict (the association-rules tier, pruned to
    pairs).

    Scale shape: each user collapses to a SORTED distinct-type set at
    the first agg (bounded by |event_type|); the candidate pairs are
    generated IN-ROW from that set (nested transform + flatten — no
    self-join of the distinct table, which at 100 TB would shuffle the
    user×type frame twice), then one hash agg on the pair key. The
    attachment counts and user total are |event_type|-sized broadcasts.
    Every lift is one double expression over exact longs, identical in
    both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("types"),
                    lambda x, i: F.transform(
                        F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                        lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    ab = pairs.groupBy("type_a", "type_b").agg(F.count("*").alias("n_ab"))
    singles = baskets.select(F.explode("types").alias("event_type"))
    na = singles.groupBy("event_type").agg(F.count("*").alias("na"))
    n = baskets.agg(F.count("*").alias("_n"))
    return (
        ab.join(
            F.broadcast(na.select(F.col("event_type").alias("type_a"), F.col("na").alias("na_a"))),
            "type_a",
        )
        .join(
            F.broadcast(na.select(F.col("event_type").alias("type_b"), F.col("na").alias("na_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("_n").cast("double")
                / (F.col("na_a").cast("double") * F.col("na_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Concentration analytics: revenue Gini coefficient + top-decile share.
# ---------------------------------------------------------------------------


@register(
    "revenue_concentration",
    oracle="""
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT custkey, rev,
         CAST(ROW_NUMBER() OVER (ORDER BY rev, custkey) AS BIGINT) AS i
  FROM rev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS BIGINT) AS tot,
         CAST(SUM(i * rev) AS BIGINT) AS irev,
         CAST(SUM(CASE WHEN i * 10 > 9 * (SELECT COUNT(*) FROM ranked) THEN rev ELSE 0 END) AS BIGINT) AS top10
  FROM ranked
)
SELECT n AS n_customers,
       ROUND(CAST(tot AS DOUBLE) / 100.0, 2) AS total_revenue,
       ROUND(2.0 * CAST(irev AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
       ROUND(CAST(top10 AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS top_decile_share
FROM agg
""",
    doc="[beyond-ref] revenue concentration: exact Gini coefficient + top-decile share",
)
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is revenue across customers? Exact Gini
    coefficient (G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending-sorted
    revenues) plus the share held by the top decile — the 80/20 audit.

    Numeric discipline: revenues are exact cent longs; rank·revenue
    products stay integer (Σi·x ≈ 2×10¹⁷ at sf0.1 — inside int64;
    promote to DECIMAL for dim tables beyond ~10⁸ rows); doubles enter
    only in the final 1-row division, with an identical expression
    tree in both engines. The top-decile cut is integer-exact
    (i·10 > 9·n). Ties order by (rev, custkey) on both engines.

    Scale shape: the fact table collapses to one row per customer at
    the first agg; the Gini rank is then EXACT-global but never
    single-partition — ``value_bucketed_rank`` range-buckets the
    revenue (percentile-probe boundaries; any boundary set gives
    correct ranks), ranks locally per bucket, and adds the exclusive
    bucket-offset prefix folded inside one ≤64-element array. Customer
    dims grow with the data, so the naive dim-sized global window is
    exactly the plan this avoids. The per-row n the top-decile cut
    needs rides the SAME broadcast offsets fold (``total_col``) — ONE
    pass over the ranked frame, no count+crossJoin re-traversal (the
    r7 verdict measured that second pass at ~3.7× the query).
    """
    from ..operators.topk import value_bucketed_rank

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    ranked = value_bucketed_rank(
        rev, "rev", ["custkey"], n_buckets=64, rank_col="i", total_col="_n"
    )
    agg = ranked.agg(
        F.max("_n").alias("n"),
        F.sum("rev").alias("tot"),
        F.sum(F.col("i") * F.col("rev")).alias("irev"),
        F.sum(
            F.when(F.col("i") * 10 > 9 * F.col("_n"), F.col("rev")).otherwise(0)
        ).alias("top10"),
    )
    n, tot, irev, top10 = (
        F.col(c).cast("double") for c in ("n", "tot", "irev", "top10")
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(tot / 100.0, 2).alias("total_revenue"),
        F.round(2.0 * irev / (n * tot) - (n + 1.0) / n, 6).alias("gini"),
        F.round(top10 / tot, 6).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# Ops/time-series percentiles: daily value bands and inter-event gaps.
# ---------------------------------------------------------------------------


@register(
    "daily_value_percentiles",
    oracle="""
WITH m AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 1000) AS BIGINT) AS mv
  FROM events
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY mv) / 1000.0 AS p50_value,
       PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY mv) / 1000.0 AS p95_value
FROM m GROUP BY day
""",
    doc="[beyond-ref] daily P50/P95 value bands (ops-monitoring percentile series)",
)
def daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily P50/P95 bands over the event value stream — the
    ops-monitoring percentile series (latency dashboards, SLO burn).

    Numeric discipline: values are scaled to integer milli-units
    before the exact percentile, so interpolation runs on exact
    integers and midpoints are dyadic — bit-identical across engines
    (the same half-cent trick as mad_outlier_audit). Scale shape: one
    day-keyed sort-based agg; per-group buffers are day-sized. The
    sketch form for wide groups is approx_percentile
    (approx_quantile_gate).
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 1000).cast("long").alias("mv"),
    )
    return m.groupBy("day").agg(
        F.count("*").alias("n_events"),
        (F.percentile("mv", F.lit(0.5)) / 1000.0).alias("p50_value"),
        (F.percentile("mv", F.lit(0.95)) / 1000.0).alias("p95_value"),
    )


@register(
    "inter_event_gap_stats",
    oracle="""
WITH g AS (
  SELECT event_type,
         EPOCH_US(ts) - LAG(EPOCH_US(ts))
           OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_us) / 1000000.0 AS p50_gap_s,
       PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_us) / 1000000.0 AS p90_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
""",
    doc="[beyond-ref] inter-event gap distribution per type (recurrence cadence audit)",
)
def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How often does each event type recur per user? Median and P90
    gap between a user's consecutive events of the same type — the
    cadence audit behind sessionization-gap and watermark-horizon
    tuning (pick the session gap / late-data bound from the actual
    recurrence distribution, not a guess).

    Numeric discipline: gaps are exact epoch-µs longs (the repo's
    cross-engine timestamp encoding), so the percentiles interpolate
    on integers. Scale shape: one (user_id, event_type)-keyed window
    shuffle for the lag, then a type-keyed percentile agg — both keys
    are natural partitions with bounded per-key state.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        (F.percentile("gap_us", F.lit(0.5)) / 1000000.0).alias("p50_gap_s"),
        (F.percentile("gap_us", F.lit(0.9)) / 1000000.0).alias("p90_gap_s"),
    )


# ---------------------------------------------------------------------------
# Join-key skew audit: measure before you salt.
# ---------------------------------------------------------------------------


@register(
    "join_key_skew_audit",
    oracle="""
WITH k AS (
  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY cnt) AS p50_cnt,
         PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY cnt) AS p99_cnt
  FROM k
)
SELECT n_keys, n_rows, max_cnt,
       ROUND(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
             / CAST(n_rows AS DOUBLE), 6) AS skew_factor,
       ROUND(p99_cnt / p50_cnt, 6) AS p99_over_p50
FROM a
""",
    doc="[beyond-ref] join-key skew audit: max/avg and p99/p50 key-frequency ratios",
)
def join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for a prospective join/agg key: the max-key
    load relative to the mean (how much one task would overload under
    plain hash partitioning) and the p99/p50 frequency ratio.

    This is the MEASURE step the skew toolkit (operators/skew.py:
    salted_agg, broadcast_salted_join) acts on — salt when skew_factor
    says a straggler is coming, not by guesswork.

    Scale shape: the fact table collapses to one row per key at the
    first map-side-combined agg; everything after runs on the key
    frame. Key counts are exact longs; the two ratios are single
    double divisions (p50/p99 interpolate on integer counts — dyadic
    midpoints, bit-exact cross-engine).
    """
    orders = load_table(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_custkey").alias("key")).agg(F.count("*").alias("cnt"))
    a = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_cnt"),
    )
    return a.select(
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(
            F.col("max_cnt").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("skew_factor"),
        F.round(F.col("p99_cnt") / F.col("p50_cnt"), 6).alias("p99_over_p50"),
    )


# ---------------------------------------------------------------------------
# Asymmetric near-dup: shingle containment (quote/subset inclusion).
# ---------------------------------------------------------------------------

_CONTAIN_MAX_DF = 100


@register(
    "shingle_containment_pairs",
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
        GROUP BY lang, shingle HAVING COUNT(*) <= {_CONTAIN_MAX_DF}) d
    ON s.lang = d.lang AND s.shingle = d.shingle
),
counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_common,
       ca.n_shingles AS n_a, cb.n_shingles AS n_b,
       CAST(p.n_common AS DOUBLE) / CAST(ca.n_shingles AS DOUBLE) AS containment_a,
       CAST(p.n_common AS DOUBLE) / CAST(cb.n_shingles AS DOUBLE) AS containment_b
FROM pairs p
JOIN counts ca ON p.doc_a = ca.doc_id
JOIN counts cb ON p.doc_b = cb.doc_id
WHERE CAST(p.n_common AS DOUBLE) / CAST(ca.n_shingles AS DOUBLE) >= 0.5
   OR CAST(p.n_common AS DOUBLE) / CAST(cb.n_shingles AS DOUBLE) >= 0.5
""",
    doc="[beyond-ref] asymmetric shingle containment pairs (quote/subset-inclusion dedup)",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs where either side's shingles are ≥ 50% contained
    in the other — the quote/subset-inclusion signal Jaccard
    structurally misses (a short doc quoted inside a long one has tiny
    Jaccard but containment ≈ 1 on the short side).

    Delegates to operators/dedup.shingle_containment, which shares the
    DF-capped block-local pair pipeline (and its cache-ownership
    discipline) with the Jaccard tier.
    """
    from ..operators.dedup import shingle_containment

    docs = load_table(spark, sf_dir, "documents")
    return shingle_containment(
        docs, n=3, block_col="lang", threshold=0.5, max_df=_CONTAIN_MAX_DF
    )


# ---------------------------------------------------------------------------
# Graph decomposition: k-core peel profile.
# ---------------------------------------------------------------------------

_PEEL_ROUND = """
deg{r} AS (SELECT u, COUNT(*) AS d FROM und{p} GROUP BY u),
rm{r} AS (SELECT u FROM deg{r} WHERE d < 3),
und{r} AS (
  SELECT e.u, e.v FROM und{p} e
  WHERE e.u NOT IN (SELECT u FROM rm{r}) AND e.v NOT IN (SELECT u FROM rm{r})
)"""


@register(
    "kcore_peel_suppliers",
    oracle=f"""
WITH {_SUPPLIER_EDGE_CTES},
und0 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
{_PEEL_ROUND.format(r=1, p=0)},
{_PEEL_ROUND.format(r=2, p=1)},
{_PEEL_ROUND.format(r=3, p=2)}
SELECT CAST(1 AS BIGINT) AS round,
       CAST((SELECT COUNT(*) FROM rm1) AS BIGINT) AS n_removed,
       CAST((SELECT COUNT(DISTINCT u) FROM und1) AS BIGINT) AS n_remaining
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST((SELECT COUNT(*) FROM rm2) AS BIGINT),
       CAST((SELECT COUNT(DISTINCT u) FROM und2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT),
       CAST((SELECT COUNT(*) FROM rm3) AS BIGINT),
       CAST((SELECT COUNT(DISTINCT u) FROM und3) AS BIGINT)
""",
    doc="[beyond-ref] 3-round 3-core peel profile of the supplier co-purchase graph",
)
def kcore_peel_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How fast the supplier co-purchase graph erodes under 3-core
    peeling (three bounded rounds) — the decomposition tier of the
    graph family (components → triangles → centrality → cores). A
    last-round n_removed of 0 certifies the 3-core was reached.

    Delegates to operators/graph.kcore_peel_profile over the shared
    capped edge construction.
    """
    from ..operators.cache import release
    from ..operators.graph import kcore_peel_profile

    edges = _supplier_edges(spark, sf_dir)
    out = kcore_peel_profile(edges, k=3, rounds=3)
    release(edges)  # the profile is driver-built and reads no block
    return out


# ---------------------------------------------------------------------------
# Classifier evaluation: confusion matrix for the lang-ID heuristic.
# ---------------------------------------------------------------------------


def _lang_id_oracle() -> str:
    from .registry import ORACLES

    return ORACLES["lang_id_heuristic"]


@register(
    "lang_id_confusion",
    oracle=f"""
WITH pred AS ({_lang_id_oracle()})
SELECT d.lang AS true_lang,
       COALESCE(p.predicted_lang, 'unknown') AS predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS DOUBLE) AS recall_share
FROM documents d
LEFT JOIN pred p ON p.doc_id = d.doc_id
GROUP BY d.lang, COALESCE(p.predicted_lang, 'unknown')
""",
    doc="[beyond-ref] confusion matrix + per-class recall for the lang-ID heuristic",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the marker-voting language identifier:
    true lang × predicted lang counts with per-true-class recall
    shares (docs with no marker hits land in 'unknown') — the
    classifier-evaluation tier, composed over the production lang-ID
    query exactly as its oracle composes over the lang-ID oracle.

    Scale shape: the prediction subplan is the audited lang-ID plan;
    the confusion matrix adds one doc-keyed left join and a hash agg
    whose output is |lang|² — the recall window runs post-agg.
    """
    from .llm_queries import lang_id_heuristic

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id_heuristic(spark, sf_dir)
    j = docs.join(pred, "doc_id", "left").select(
        F.col("lang").alias("true_lang"),
        F.coalesce("predicted_lang", F.lit("unknown")).alias("predicted_lang"),
    )
    counts = j.groupBy("true_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        (
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")
        ).alias("recall_share"),
    )


# ---------------------------------------------------------------------------
# Data-quality constraints: referential-integrity audit.
# ---------------------------------------------------------------------------


@register(
    "referential_integrity_audit",
    oracle="""
SELECT
  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_lineitems,
  CAST((SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
       AS BIGINT) AS orphan_lineitems,
  CAST((SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
       AS BIGINT) AS childless_orders,
  CAST((SELECT COUNT(*) FROM
          (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
       AS BIGINT) AS dup_orderkeys,
  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT) AS null_custkeys,
  CAST((SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
       AS BIGINT) AS dangling_custkeys
""",
    doc="[beyond-ref] dbt-style referential-integrity and uniqueness audit across the star schema",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the star schema: orphaned fact rows,
    childless orders, duplicate and dangling keys, null foreign keys —
    the dbt-test tier every warehouse load gates on.

    Scale shape: every constraint is an anti-join (LeftAnti — one
    shuffle each, dims broadcast where small) or a key-grouped count;
    the seven scalars assemble via 1-row broadcast cross joins, so the
    audit is one lazy plan with no driver-side checks.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    okeys = orders.select("o_orderkey")
    lkeys = li.select("l_orderkey").distinct()
    scalars = [
        orders.agg(F.count("*").alias("n_orders")),
        li.agg(F.count("*").alias("n_lineitems")),
        li.join(
            okeys, li.l_orderkey == okeys.o_orderkey, "left_anti"
        ).agg(F.count("*").alias("orphan_lineitems")),
        orders.join(
            lkeys, orders.o_orderkey == lkeys.l_orderkey, "left_anti"
        ).agg(F.count("*").alias("childless_orders")),
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .agg(F.count("*").alias("dup_orderkeys")),
        orders.where(F.col("o_custkey").isNull()).agg(
            F.count("*").alias("null_custkeys")
        ),
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").alias("dangling_custkeys")),
    ]
    out = scalars[0]
    for s in scalars[1:]:
        out = out.crossJoin(F.broadcast(s))
    return out


# ---------------------------------------------------------------------------
# Materialized-view maintenance: merge algebraic partials, no recompute.
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_maintenance",
    oracle="""
WITH base AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 <> 0
  GROUP BY o_orderpriority
),
delta AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 = 0
  GROUP BY o_orderpriority
),
merged AS (
  SELECT COALESCE(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
         COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n_orders,
         COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS cents
  FROM base b FULL OUTER JOIN delta d ON d.o_orderpriority = b.o_orderpriority
)
SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS total_price,
       ROUND(CAST(cents AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0, 6) AS avg_price
FROM merged
""",
    doc="[beyond-ref] materialized-view maintenance: merge algebraic partials (count/sum/avg) without recompute",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-priority revenue rollup from a BASE snapshot plus
    a DELTA batch by merging algebraic partials (count, cent-sum) —
    AVG derives from the merged partials, never from re-reading the
    base rows. The batch twin of the streaming HLL sketch store: any
    aggregate expressible as a commutative monoid (count/sum/min/max,
    HLL, quantile sketches) maintains this way at 100 TB — the delta
    is the only thing scanned per refresh.

    The query computes base and delta partials from disjoint halves of
    ``orders`` and merges via ONE full-outer join on the group key
    (both sides post-agg, broadcast-sized) — value-identical to the
    full recompute, which is exactly what the oracle checks.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def partial(pred):
        return (
            orders.where(pred)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
        )

    base = partial(F.col("o_orderkey") % 10 != 0)
    delta = partial(F.col("o_orderkey") % 10 == 0)
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d, F.col("b.o_orderpriority") == F.col("d.o_orderpriority"), "full_outer"
    ).select(
        F.coalesce(F.col("b.o_orderpriority"), F.col("d.o_orderpriority")).alias(
            "o_orderpriority"
        ),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            + F.coalesce(F.col("d.cents"), F.lit(0))
        ).alias("cents"),
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("total_price"),
        F.round(
            F.col("cents").cast("double") / F.col("n_orders").cast("double") / 100.0, 6
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Compliance: right-to-be-forgotten deletion impact audit.
# ---------------------------------------------------------------------------


@register(
    "gdpr_delete_audit",
    oracle="""
WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
ev AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rows_to_delete,
         CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS rows_total
  FROM events e JOIN del ON del.user_id = e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_subjects,
       rows_to_delete,
       rows_total,
       CAST(rows_total - rows_to_delete AS BIGINT) AS rows_after,
       ROUND(CAST(rows_to_delete AS DOUBLE) / CAST(rows_total AS DOUBLE), 6)
         AS delete_fraction
FROM ev
""",
    doc="[beyond-ref] right-to-be-forgotten impact audit: per-request deletion footprint",
)
def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-impact audit for a right-to-be-forgotten batch (every
    97th user as the stand-in request list): how many fact rows the
    purge touches and what survives — the report a compliance job
    emits BEFORE rewriting files. The purge itself is the left_anti
    twin of this semi join; on a partitioned/Z-ordered lake the
    deletion list prunes to the files that contain those keys
    (zorder_layout_keys is the layout half of this story).

    Scale shape: the subject list is a broadcast semi join against the
    fact table — one scan; counts assemble via 1-row broadcasts.
    """
    ev = load_table(spark, sf_dir, "events")
    subjects = ev.where(F.col("user_id") % 97 == 0).select("user_id").distinct()
    hit = ev.join(F.broadcast(subjects), "user_id", "left_semi")
    n_subj = subjects.agg(F.count("*").alias("n_subjects"))
    n_hit = hit.agg(F.count("*").alias("rows_to_delete"))
    n_tot = ev.agg(F.count("*").alias("rows_total"))
    return (
        n_subj.crossJoin(F.broadcast(n_hit))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "n_subjects",
            "rows_to_delete",
            "rows_total",
            (F.col("rows_total") - F.col("rows_to_delete")).alias("rows_after"),
            F.round(
                F.col("rows_to_delete").cast("double")
                / F.col("rows_total").cast("double"),
                6,
            ).alias("delete_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series anomaly detection: trailing z-score + integer-exact CUSUM.
# ---------------------------------------------------------------------------


@register(
    "daily_anomaly_flags",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE)
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(n) AS BIGINT) AS total FROM daily
),
w AS (
  SELECT day, n,
         CAST(COUNT(n) OVER tw AS BIGINT) AS wn,
         CAST(SUM(n) OVER tw AS BIGINT) AS ws,
         CAST(SUM(n * n) OVER tw AS BIGINT) AS wss,
         CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run_sum,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily
  WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT w.day, w.n,
       CASE WHEN w.wn >= 3 THEN ROUND(CAST(w.ws AS DOUBLE) / CAST(w.wn AS DOUBLE), 6) END
         AS roll_mean,
       CASE WHEN w.wn >= 3 AND
                 (CAST(w.wss AS DOUBLE) - CAST(w.ws AS DOUBLE) * CAST(w.ws AS DOUBLE)
                  / CAST(w.wn AS DOUBLE)) / (CAST(w.wn AS DOUBLE) - 1.0) > 0.0
            THEN ROUND((CAST(w.n AS DOUBLE) - CAST(w.ws AS DOUBLE) / CAST(w.wn AS DOUBLE))
                 / SQRT((CAST(w.wss AS DOUBLE) - CAST(w.ws AS DOUBLE) * CAST(w.ws AS DOUBLE)
                         / CAST(w.wn AS DOUBLE)) / (CAST(w.wn AS DOUBLE) - 1.0)), 6)
       END AS z_score,
       COALESCE(ABS((CAST(w.n AS DOUBLE) - CAST(w.ws AS DOUBLE) / CAST(w.wn AS DOUBLE)))
                > 2.0 * SQRT((CAST(w.wss AS DOUBLE) - CAST(w.ws AS DOUBLE) * CAST(w.ws AS DOUBLE)
                              / CAST(w.wn AS DOUBLE)) / (CAST(w.wn AS DOUBLE) - 1.0))
                AND w.wn >= 3, FALSE) AS z_flag,
       ROUND((CAST(w.run_sum AS DOUBLE) * CAST(tot.n_days AS DOUBLE)
              - CAST(w.i AS DOUBLE) * CAST(tot.total AS DOUBLE))
             / CAST(tot.n_days AS DOUBLE), 6) AS cusum
FROM w CROSS JOIN tot
""",
    doc="[beyond-ref] time-series anomaly audit: trailing z-score + integer-exact CUSUM over the daily series",
)
def daily_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly audit: each day scored against its
    TRAILING 7-day baseline (leak-free — the frame excludes the
    current day) plus a CUSUM drift track against the global mean.

    Numeric discipline: the rolling mean/variance derive from exact
    integer window sums (Σn, Σn² over counts — longs, association-
    free), so the only float math is the final identical expression in
    both engines. CUSUM is computed in the INTEGER domain first
    (run_sum·n_days − i·total — exact), divided once at the end: a
    float running sum would accumulate in engine-specific order.

    Scale shape: the corpus collapses to one row per day at the first
    agg; every window runs on that calendar-sized frame (the two-phase
    prefix-sum of corpus_shuffle_order is the upgrade path if the
    'calendar' were ever corpus-sized).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    tot = daily.agg(
        F.count("*").alias("_n_days"), F.sum("n").alias("_total")
    )
    wt = Window.orderBy("day").rowsBetween(-7, -1)
    wr = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wi = Window.orderBy("day")
    w = daily.select(
        "day",
        "n",
        F.count("n").over(wt).alias("wn"),
        F.sum("n").over(wt).alias("ws"),
        F.sum(F.col("n") * F.col("n")).over(wt).alias("wss"),
        F.sum("n").over(wr).alias("run_sum"),
        F.row_number().over(wi).cast("long").alias("i"),
    )
    nD, ws, wss = (
        F.col("n").cast("double"),
        F.coalesce(F.col("ws"), F.lit(0)).cast("double"),
        F.coalesce(F.col("wss"), F.lit(0)).cast("double"),
    )
    # ANSI mode evaluates BOTH branches of a CASE, so zero-count rows
    # must see a nonzero divisor; the `have` guard nulls their output
    wn = F.greatest(F.col("wn"), F.lit(1)).cast("double")
    wn1 = F.greatest(F.col("wn") - 1, F.lit(1)).cast("double")
    var = (wss - ws * ws / wn) / wn1
    mean = ws / wn
    have = F.col("wn") >= 3
    z = (nD - mean) / F.sqrt(var)
    return w.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.when(have, F.round(mean, 6)).alias("roll_mean"),
        F.when(have & (var > 0.0), F.round(z, 6)).alias("z_score"),
        F.coalesce(
            (F.abs(nD - mean) > F.lit(2.0) * F.sqrt(var)) & have, F.lit(False)
        ).alias("z_flag"),
        F.round(
            (
                F.col("run_sum").cast("double") * F.col("_n_days").cast("double")
                - F.col("i").cast("double") * F.col("_total").cast("double")
            )
            / F.col("_n_days").cast("double"),
            6,
        ).alias("cusum"),
    )


# ---------------------------------------------------------------------------
# Forecasting: EWMA level + one-step-ahead errors over the daily series.
# ---------------------------------------------------------------------------


@register(
    "daily_ewma_forecast",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE)
),
seq AS (
  SELECT LIST(struct_pack(day := day, n := n) ORDER BY day) AS s FROM daily
),
lvl AS (
  -- sequential EWMA fold in day order: the recursion IS the order
  SELECT s, LIST_TRANSFORM(
    RANGE(1, LEN(s) + 1),
    i -> LIST_REDUCE(
           LIST_TRANSFORM(s[1:i], x -> CAST(x.n AS DOUBLE)),
           (acc, x) -> acc + 0.3 * (x - acc)
         )
  ) AS levels
  FROM seq
)
SELECT u.day, u.n,
       ROUND(lv, 6) AS ewma_level,
       CASE WHEN idx > 1 THEN ROUND(CAST(u.n AS DOUBLE) - prev_lv, 6) END AS forecast_error
FROM lvl,
LATERAL (
  SELECT s[CAST(i AS INTEGER)].day AS day, s[CAST(i AS INTEGER)].n AS n,
         levels[CAST(i AS INTEGER)] AS lv,
         CASE WHEN i > 1 THEN levels[CAST(i AS INTEGER) - 1] END AS prev_lv,
         i AS idx
  FROM UNNEST(RANGE(1, LEN(s) + 1)) AS t(i)
) u
""",
    doc="[beyond-ref] EWMA (alpha=0.3) level + one-step-ahead forecast error over the daily series",
)
def daily_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume with
    the one-step-ahead forecast error (yesterday's level vs today's
    actual) — the smoothing/forecasting tier next to the anomaly audit.

    EWMA is inherently RECURSIVE (level_t = level_{t-1} + α·(n_t −
    level_{t-1})), which no window frame expresses directly; both
    engines therefore run the SAME sequential fold over the day-ordered
    series — Spark as one ``F.aggregate`` over a sorted collect_list
    (accumulating the full level path), DuckDB as an ordered
    LIST_REDUCE per prefix — so every float sees identical operands in
    identical order and the differential is bit-exact.

    Scale shape: the corpus collapses to one row per day first; the
    fold runs on the calendar-sized array (≤ thousands of elements) in
    a single task. α = 0.3 as the parsed literal ``0.3`` in both
    engines (same double).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    seq = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("s")
    )
    # one pass: fold day-by-day, keeping the whole level path
    folded = F.aggregate(
        F.col("s"),
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, x["n"].cast("double")
                ).otherwise(
                    F.element_at(acc, -1)
                    + F.lit(0.3) * (x["n"].cast("double") - F.element_at(acc, -1))
                )
            ),
        ),
    )
    rows = seq.select("s", folded.alias("levels")).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("s")),
                lambda i: F.struct(
                    F.element_at(F.col("s"), i)["day"].alias("day"),
                    F.element_at(F.col("s"), i)["n"].alias("n"),
                    F.round(F.element_at(F.col("levels"), i), 6).alias("ewma_level"),
                    F.when(
                        i > 1,
                        F.round(
                            F.element_at(F.col("s"), i)["n"].cast("double")
                            - F.element_at(F.col("levels"), i - 1),
                            6,
                        ),
                    ).alias("forecast_error"),
                ),
            )
        ).alias("r")
    )
    return rows.select("r.day", "r.n", "r.ewma_level", "r.forecast_error")


# ---------------------------------------------------------------------------
# Fraud/quality audits: Benford first-digit test and readability scores.
# ---------------------------------------------------------------------------


@register(
    "benford_digit_audit",
    oracle="""
WITH d AS (
  SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT c.digit, c.n,
       ROUND(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS observed_p,
       ROUND(LOG10(1.0 + 1.0 / CAST(c.digit AS DOUBLE)), 6) AS benford_p,
       ROUND(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)
             - LOG10(1.0 + 1.0 / CAST(c.digit AS DOUBLE)), 6) AS deviation
FROM c CROSS JOIN t
""",
    doc="[beyond-ref] Benford first-digit audit over order prices (fabrication signal)",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First significant digit of every order price vs Benford's law —
    the classic fabricated-numbers signal (organic multiplicative data
    follows log10(1 + 1/d); synthetic uniform data, as here, visibly
    does not — the audit REPORTS the deviation rather than asserting
    conformance).

    Numeric discipline: the first digit comes from the integer-cents
    string (no float log-floor path), counts are exact longs, and the
    Benford expectation is the identical double expression in both
    engines. One map-side-combined agg; 9 output rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    c = (
        orders.where(F.col("o_totalprice") > 0)
        .groupBy(digit)
        .agg(F.count("*").alias("n"))
    )
    t = c.agg(F.sum("n").alias("_total"))
    obs = F.col("n").cast("double") / F.col("_total").cast("double")
    ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_p"),
        F.round(ben, 6).alias("benford_p"),
        F.round(obs - ben, 6).alias("deviation"),
    )


@register(
    "readability_scores",
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '[.!?]+[ ]+'),
                              x -> TRIM(x) <> '')) AS BIGINT) AS n_sents,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT) AS n_words,
         CAST(LEN(REPLACE(text, ' ', '')) AS BIGINT) AS n_letters
  FROM documents
)
SELECT doc_id, n_sents, n_words,
       CASE WHEN n_sents > 0 AND n_words > 0 THEN
         ROUND(206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
               - 84.6 * ((CAST(n_letters AS DOUBLE) / 3.0) / CAST(n_words AS DOUBLE)), 6)
       END AS flesch_proxy
FROM m
""",
    doc="[beyond-ref] Flesch-style readability proxy: words/sentence + letters-per-word syllable proxy",
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease PROXY per document: the standard formula
    with letters/3 standing in for syllables (no dictionary in a
    SQL-expressible engine — documented approximation; ~3 letters per
    syllable in English). Screens for run-on machine text (very long
    sentences) and letter-salad (very long 'words') — a readability
    axis the ratio/entropy gates don't cover.

    Fully narrow: three per-row integer counts (sentence split on
    '[.!?]+ +' — DuckDB's RE2 has no lookbehind, so the delimiter
    consumes the punctuation identically in both engines —,
    token count, letter count), then one fixed double expression —
    identical literals both engines, no aggregation at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_sents = F.size(
        F.filter(
            F.split("text", r"[.!?]+[ ]+"), lambda x: F.trim(x) != ""
        )
    ).cast("long")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    n_letters = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long")
    m = docs.select(
        "doc_id",
        n_sents.alias("n_sents"),
        n_words.alias("n_words"),
        n_letters.alias("n_letters"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents").cast("double"))
        - F.lit(84.6)
        * (
            (F.col("n_letters").cast("double") / F.lit(3.0))
            / F.col("n_words").cast("double")
        )
    )
    return m.select(
        "doc_id",
        "n_sents",
        "n_words",
        F.when(
            (F.col("n_sents") > 0) & (F.col("n_words") > 0), F.round(score, 6)
        ).alias("flesch_proxy"),
    )


# ---------------------------------------------------------------------------
# Corpus linguistics: Zipf-slope fit over the token rank-frequency curve.
# ---------------------------------------------------------------------------


@register(
    "zipf_slope_audit",
    oracle="""
WITH t AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t WHERE token <> '' GROUP BY token),
r AS (
  SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rk
  FROM f
),
top AS (SELECT rk, n FROM r WHERE rk <= 100),
s AS (
  SELECT LIST(struct_pack(rk := rk, n := n) ORDER BY rk) AS l,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM top
),
m AS (
  SELECT cnt,
         LIST_SUM(LIST_TRANSFORM(l, e -> LN(CAST(e.rk AS DOUBLE)))) AS sx,
         LIST_SUM(LIST_TRANSFORM(l, e -> LN(CAST(e.n AS DOUBLE)))) AS sy,
         LIST_SUM(LIST_TRANSFORM(l, e -> LN(CAST(e.rk AS DOUBLE)) * LN(CAST(e.n AS DOUBLE)))) AS sxy,
         LIST_SUM(LIST_TRANSFORM(l, e -> LN(CAST(e.rk AS DOUBLE)) * LN(CAST(e.rk AS DOUBLE)))) AS sxx
  FROM s
)
SELECT cnt AS n_ranked,
       ROUND((CAST(cnt AS DOUBLE) * sxy - sx * sy)
             / (CAST(cnt AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope
FROM m
""",
    doc="[beyond-ref] Zipf-slope fit (log-log OLS over top-100 token ranks) — corpus-health audit",
)
def zipf_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope of ln(frequency) against ln(rank) over the top-100 tokens
    — natural language sits near −1 (Zipf's law); a flat or cliffed
    slope flags template spam or truncated vocabularies. The corpus-
    linguistics sibling of the entropy and cross-entropy gates.

    Cross-engine float determinism: the four OLS moment sums run over
    the RANK-ORDERED top-100 list on both engines (ordered LIST_SUMs
    vs one sequential fold over a sorted collect_list), so every sum
    sees identical operands in identical order. Scale shape: the
    top-100 selection is k-bounded — ``orderBy().limit(100)`` plans as
    ``TakeOrderedAndProject`` (per-task heaps over the vocabulary
    frame, driver merges 100·tasks rows), so no vocabulary-sized
    single-partition WindowExec exists anywhere in the plan; ranks are
    recovered as positions in the one sorted 100-element array the fit
    already needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    f = tok.groupBy("token").agg(F.count("*").alias("n"))
    top = f.orderBy(F.desc("n"), F.asc("token")).limit(100)
    sorted_arr = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("n")).alias("_s0"),
                F.col("token").alias("t"),
                F.col("n").alias("n"),
            )
        )
    )
    s = top.agg(sorted_arr.alias("l0"), F.count("*").alias("cnt")).select(
        F.transform(
            F.col("l0"),
            lambda e, i: F.struct(
                (i + F.lit(1)).cast("long").alias("rk"), e["n"].alias("n")
            ),
        ).alias("l"),
        F.col("cnt"),
    )
    lx = lambda e: F.log(e["rk"].cast("double"))  # noqa: E731
    ly = lambda e: F.log(e["n"].cast("double"))  # noqa: E731
    folded = F.aggregate(
        F.col("l"),
        F.struct(
            F.lit(0.0).alias("sx"),
            F.lit(0.0).alias("sy"),
            F.lit(0.0).alias("sxy"),
            F.lit(0.0).alias("sxx"),
        ),
        lambda acc, e: F.struct(
            (acc["sx"] + lx(e)).alias("sx"),
            (acc["sy"] + ly(e)).alias("sy"),
            (acc["sxy"] + lx(e) * ly(e)).alias("sxy"),
            (acc["sxx"] + lx(e) * lx(e)).alias("sxx"),
        ),
    )
    m = s.select(F.col("cnt"), folded.alias("m"))
    cnt = F.col("cnt").cast("double")
    return m.select(
        F.col("cnt").alias("n_ranked"),
        F.round(
            (cnt * F.col("m.sxy") - F.col("m.sx") * F.col("m.sy"))
            / (cnt * F.col("m.sxx") - F.col("m.sx") * F.col("m.sx")),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Metric reconciliation: order header totals vs lineitem rollup.
# ---------------------------------------------------------------------------


@register(
    "order_price_reconciliation",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS hdr_cents,
         li.li_cents
  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_joined,
       CAST(SUM(CASE WHEN hdr_cents = li_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_match,
       CAST(SUM(CASE WHEN ABS(hdr_cents - li_cents) * 100 <= hdr_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_1pct,
       CAST(MAX(ABS(hdr_cents - li_cents)) AS BIGINT) AS max_abs_diff_cents,
       ROUND(CAST(SUM(ABS(hdr_cents - li_cents)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0, 6) AS mean_abs_diff
FROM j
""",
    doc="[beyond-ref] header-vs-detail metric reconciliation: order totals against the lineitem rollup",
)
def order_price_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the order header's total agree with the sum of its line
    items? The header-vs-detail reconciliation every warehouse load
    audits (referential_integrity_audit checks KEYS exist; this checks
    the MONEY adds up). Reports exact-match and within-1% counts, plus
    the worst and mean absolute discrepancy.

    Numeric discipline: both sides compare as integer cents, and the
    1% tolerance is evaluated integer-exact (|diff|·100 ≤ header).
    Scale shape: the detail table collapses to one row per order at
    the first map-side-combined agg; the reconciliation join is
    key-co-partitioned; one 5-column scalar row out.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    li_sum = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("li_cents")
    )
    j = orders.select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("hdr_cents")
    ).join(li_sum, orders.o_orderkey == li_sum.l_orderkey)
    diff = F.abs(F.col("hdr_cents") - F.col("li_cents"))
    return j.agg(
        F.count("*").alias("n_orders_joined"),
        F.sum(F.when(F.col("hdr_cents") == F.col("li_cents"), 1).otherwise(0)).alias(
            "n_exact_match"
        ),
        F.sum(F.when(diff * 100 <= F.col("hdr_cents"), 1).otherwise(0)).alias(
            "n_within_1pct"
        ),
        F.max(diff).alias("max_abs_diff_cents"),
        F.round(
            F.sum(diff).cast("double") / F.count("*").cast("double") / 100.0, 6
        ).alias("mean_abs_diff"),
    )


# ---------------------------------------------------------------------------
# Sequence mining: top session paths (ordered event-type journeys).
# ---------------------------------------------------------------------------


@register(
    "session_path_counts",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
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
),
paths AS (
  SELECT user_id, session_seq,
         ARRAY_TO_STRING(LIST(event_type ORDER BY ts, event_id)[1:8], '>') AS path
  FROM sessions GROUP BY user_id, session_seq
),
c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY path),
r AS (SELECT path, n_sessions,
             CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rk
      FROM c)
SELECT path, n_sessions, rk FROM r WHERE rk <= 20
""",
    doc="[beyond-ref] sequence mining: top-20 session event-type paths (first 8 steps)",
)
def session_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common user journeys: each session's ordered event-type
    path (capped at its first 8 steps so pathological sessions can't
    mint unbounded-length keys), counted and ranked — the
    sequence-mining closer over the sessionization the engine already
    computes (same 30-minute-gap session rule as sessionize_events).

    Scale shape: sessions assemble on the user_id window partition the
    sessionizer already pays; per-session paths build narrowly from a
    sorted collect_list (bounded by the 8-step cap); the path agg's
    cardinality is the distinct-journey count, and the global top-20
    selection is k-bounded (``bounded_topk`` → TakeOrderedAndProject +
    in-array rank) — distinct-journey cardinality grows with the data,
    so no journey-sized single-partition WindowExec may exist. Ties
    break by (count desc, path asc) in both engines.
    """
    from ..operators.topk import bounded_topk

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_seq", F.sum("new_session").over(wc)
    )
    paths = sessions.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda e: e["event_type"],
                ),
                1,
                8,
            ),
            ">",
        ).alias("path")
    )
    c = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    return bounded_topk(
        c,
        20,
        [F.desc("n_sessions"), F.asc("path")],
        [
            (-F.col("n_sessions")).alias("_s0"),
            F.col("path").alias("path"),
            F.col("n_sessions").alias("n_sessions"),
        ],
        ["path", "n_sessions"],
    )


# ---------------------------------------------------------------------------
# Feature engineering: equi-depth (decile) binning without a frame-sized
# window — the quantization step a tabular-feature pipeline runs before
# bucketized embeddings or monotonic binning, and the second production
# consumer of operators/topk.value_bucketed_rank (after the Gini rank).
# ---------------------------------------------------------------------------


@register(
    "equi_depth_binning",
    oracle="""
WITH c AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
r AS (
  SELECT o_orderkey, cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS i
  FROM c
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c)
SELECT CAST(((i - 1) * 10) // n.n AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(MIN(cents) AS DOUBLE) / 100.0, 2) AS lo_price,
       ROUND(CAST(MAX(cents) AS DOUBLE) / 100.0, 2) AS hi_price,
       ROUND(CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0, 2) AS total_price
FROM r CROSS JOIN n
GROUP BY 1
""",
    doc="[beyond-ref] equi-depth feature binning: exact decile buckets via two-phase global rank",
)
def equi_depth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth deciles of order value: each order's bucket is
    ``((rank-1)·10) div n`` over the (cents, key)-ordered frame, with
    per-decile count/min/max/total — the feature-quantization step of
    a tabular training pipeline (and the audit for any approximate
    binner: these boundaries are the ground truth).

    Scale shape: the rank is ``value_bucketed_rank`` — percentile-probe
    range buckets, per-bucket local rank, array-folded exclusive
    offsets — so the ORDER-frame is never single-partition even though
    every row gets an exact global position (the oracle runs the naive
    ROW_NUMBER as the definitional check). Money stays integer cents
    until the final per-decile division; the decile index is exact
    integer division in BOTH engines (``div`` here, ``//`` there).
    The n the decile arithmetic divides by rides the rank primitive's
    broadcast offsets fold (``total_col``) — one pass over orders, no
    separate count+crossJoin scan.
    """
    from ..operators.topk import value_bucketed_rank

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = value_bucketed_rank(
        c, "cents", ["o_orderkey"], n_buckets=64, rank_col="i", total_col="_n"
    )
    decile = F.expr("((i - 1) * 10) div _n").cast("long")
    return (
        ranked.groupBy(decile.alias("decile"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("cents").cast("double") / 100.0, 2).alias("lo_price"),
            F.round(F.max("cents").cast("double") / 100.0, 2).alias("hi_price"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining: pointwise mutual information over document-level
# co-occurrence, vocabulary-capped so the pair space is constant-bounded.
# ---------------------------------------------------------------------------


@register(
    "pmi_top_pairs",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
  FROM documents
),
tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
gf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok2 GROUP BY token),
top AS (
  SELECT token, df FROM (
    SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rk FROM gf
  ) WHERE rk <= 50
),
sel AS (SELECT t.doc_id, t.token FROM tok2 t JOIN top ON top.token = t.token),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM sel a JOIN sel b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
),
scored AS (
  SELECT p.token_a, p.token_b, p.n_ab,
         ROUND(LN(CAST(p.n_ab AS DOUBLE) * CAST(nd.n_docs AS DOUBLE)
                  / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))), 6) AS pmi
  FROM pairs p
  JOIN top fa ON fa.token = p.token_a
  JOIN top fb ON fb.token = p.token_b
  CROSS JOIN nd
  WHERE p.n_ab >= 5
),
r AS (
  SELECT token_a, token_b, n_ab, pmi,
         CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, token_a, token_b) AS BIGINT) AS rk
  FROM scored
)
SELECT token_a, token_b, n_ab, pmi, rk FROM r WHERE rk <= 20
""",
    doc="[beyond-ref] PMI collocations: top-20 co-occurring token pairs over a capped vocabulary",
)
def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by document-level pointwise mutual
    information, PMI(a,b) = ln(n_ab·N / (df_a·df_b)), restricted to
    pairs seen in ≥ 5 documents — the phrase-mining signal a tokenizer
    or synthetic-data pipeline uses to find multi-word units.

    Scale shape: the pair space is CONSTANT-bounded, not vocabulary²:
    co-occurrence runs only over the top-50 document-frequency tokens
    (selected by the distributed ``orderBy().limit`` heap and
    broadcast), so each doc contributes ≤ C(50,2) pair keys into a
    map-side-combined count — the corpus never self-joins. df/n_ab
    stay exact integers; PMI is one ln over an integer ratio with the
    identical expression tree in both engines; the final top-20 is
    ``bounded_topk`` (ties broken by the pair itself).
    """
    from ..operators.topk import bounded_topk

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    gf = tok.groupBy("token").agg(F.count("*").alias("df"))
    top = gf.orderBy(F.desc("df"), F.asc("token")).limit(50)
    sel = tok.join(F.broadcast(top), "token").select("doc_id", "token", "df")
    nd = docs.agg(F.count("*").alias("_n_docs"))
    a, b = sel.alias("a"), sel.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("token_a"),
            F.col("b.token").alias("token_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    scored = pairs.crossJoin(F.broadcast(nd)).select(
        "token_a",
        "token_b",
        "n_ab",
        F.round(
            F.log(
                F.col("n_ab").cast("double")
                * F.col("_n_docs").cast("double")
                / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
            ),
            6,
        ).alias("pmi"),
    )
    return bounded_topk(
        scored,
        20,
        [F.desc("pmi"), F.asc("token_a"), F.asc("token_b")],
        [
            (-F.col("pmi")).alias("_s0"),
            F.col("token_a").alias("token_a"),
            F.col("token_b").alias("token_b"),
            F.col("n_ab").alias("n_ab"),
            F.col("pmi").alias("pmi"),
        ],
        ["token_a", "token_b", "n_ab", "pmi"],
    )


# ---------------------------------------------------------------------------
# Temporal leakage control: time-based train/test split with an embargo
# gap — the chronological sibling of the hash-based train_val_test_split
# (time-series models must not train on the eval window's immediate
# past, or autocorrelation leaks the answer across the boundary).
# ---------------------------------------------------------------------------


@register(
    "temporal_split_gap",
    oracle="""
WITH b AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0,
         CAST((7 * (MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)))) // 10 AS INTEGER)
           AS cut_days
  FROM events
),
lab AS (
  SELECT e.user_id, CAST(e.ts AS DATE) AS day,
         CASE
           WHEN CAST(e.ts AS DATE) < b.d0 + b.cut_days THEN 'train'
           WHEN CAST(e.ts AS DATE) < b.d0 + b.cut_days + 3 THEN 'embargo'
           ELSE 'test'
         END AS split
  FROM events e CROSS JOIN b
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(day) AS first_day,
       MAX(day) AS last_day
FROM lab GROUP BY split
""",
    doc=(
        "[beyond-ref] temporal train/test split with a 3-day embargo gap "
        "(time-series leakage control; chronological sibling of "
        "train_val_test_split)"
    ),
)
def temporal_split_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological 70/30 split of the event stream with a 3-day
    embargo between train and test: the cut lands at 70% of the
    observed day span, embargo rows are EXCLUDED from both sides (they
    carry the eval window's immediate past), and the report shows each
    side's volume, user reach, and date range — the audit that proves
    the split is leak-free before a time-series model trains on it.

    Determinism: the boundary is pure integer date arithmetic
    (min-day + (7·span_days) div 10) — no percentile, no sampling —
    so any engine reproduces the same membership for every row.

    Scale shape: the 1-row (d0, cut) frame broadcasts onto the stream
    (no driver round-trip); labeling is a narrow CASE; the report is
    one 3-group hash agg with map-side-combined distinct-user state.
    At 100 TB the same plan holds — the only wide stage is the final
    3-key agg.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    b = ev.agg(
        F.min(day).alias("d0"),
        F.expr("7 * datediff(max(to_date(ts)), min(to_date(ts))) div 10")
        .cast("int")
        .alias("cut_days"),
    )
    lab = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        day.alias("day"),
        F.when(day < F.date_add(F.col("d0"), F.col("cut_days")), "train")
        .when(day < F.date_add(F.col("d0"), (F.col("cut_days") + 3).cast("int")), "embargo")
        .otherwise("test")
        .alias("split"),
    )
    return lab.groupBy("split").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# Survival analysis: discrete-time retention/hazard curve over user
# lifetimes — P(user still active at day d) plus the per-day churn
# hazard, computed entirely from bounded suffix sums.
# ---------------------------------------------------------------------------


@register(
    "survival_retention_curve",
    oracle="""
WITH life AS (
  SELECT user_id,
         LEAST(CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT), 30)
           AS life_days
  FROM events GROUP BY user_id
),
cnt AS (
  SELECT life_days, CAST(COUNT(*) AS BIGINT) AS n_ended FROM life GROUP BY life_days
),
curve AS (
  SELECT d.life_days AS day,
         CAST(SUM(CASE WHEN c.life_days >= d.life_days THEN c.n_ended ELSE 0 END)
              AS BIGINT) AS n_at_risk,
         CAST(SUM(CASE WHEN c.life_days = d.life_days THEN c.n_ended ELSE 0 END)
              AS BIGINT) AS n_churned
  FROM (SELECT DISTINCT life_days FROM cnt) d
  CROSS JOIN cnt c
  GROUP BY d.life_days
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM life)
SELECT curve.day, n_at_risk, n_churned,
       ROUND(CAST(n_churned AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6) AS hazard,
       ROUND(CAST(n_at_risk AS DOUBLE) / CAST(tot.n_users AS DOUBLE), 6) AS survival
FROM curve CROSS JOIN tot
""",
    doc=(
        "[beyond-ref] discrete-time survival/retention curve: per-day "
        "at-risk, churn hazard, and survival share from bounded suffix sums"
    ),
)
def survival_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style discrete retention: lifetime = days between a
    user's first and last event (capped at 30); for each observed
    lifetime day d, how many users were still at risk, how many
    churned exactly there, the hazard n_churned/n_at_risk, and the
    survival share n_at_risk/total — the curve a retention or
    engagement-forecast model trains against.

    Scale shape: users collapse to one lifetime row at the first agg
    (user-keyed, map-side combined); lifetimes collapse again to a
    ≤31-row count table; the at-risk suffix sum is a bounded 31×31
    cross of that tiny table — no window anywhere, no per-user state
    past the first agg. Exact integers until the two final divisions
    (identical expression trees both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    life = ev.groupBy("user_id").agg(
        F.least(F.datediff(F.max(day), F.min(day)), F.lit(30))
        .cast("long")
        .alias("life_days")
    )
    cnt = life.groupBy("life_days").agg(F.count("*").alias("n_ended"))
    d = cnt.select("life_days").distinct().select(F.col("life_days").alias("day"))
    curve = (
        d.crossJoin(F.broadcast(cnt))
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("life_days") >= F.col("day"), F.col("n_ended")).otherwise(0)
            ).alias("n_at_risk"),
            F.sum(
                F.when(F.col("life_days") == F.col("day"), F.col("n_ended")).otherwise(0)
            ).alias("n_churned"),
        )
    )
    tot = life.agg(F.count("*").alias("_n_users"))
    return curve.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_at_risk",
        "n_churned",
        F.round(
            F.col("n_churned").cast("double") / F.col("n_at_risk").cast("double"), 6
        ).alias("hazard"),
        F.round(
            F.col("n_at_risk").cast("double") / F.col("_n_users").cast("double"), 6
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Semi-structured schema-drift audit: key-set signatures of the JSON
# props column per event type — the contract check a lake runs before
# relying on get_json_object paths (a producer adding/dropping keys
# shows up as a new signature long before a downstream null storm).
# ---------------------------------------------------------------------------


@register(
    "props_schema_drift",
    oracle="""
WITH s AS (
  SELECT event_type,
         -- DuckDB's ARRAY_TO_STRING([]) is NULL where Spark's
         -- array_join([]) is '' — coalesce pins the keyless-object row
         COALESCE(ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ','), '') AS key_sig
  FROM events
  WHERE props IS NOT NULL AND json_valid(props) AND json_type(props) = 'OBJECT'
),
c AS (
  SELECT event_type, key_sig, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM s GROUP BY event_type, key_sig
),
t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot FROM c GROUP BY event_type)
SELECT c.event_type, c.key_sig, c.n_events,
       ROUND(CAST(c.n_events AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share
FROM c JOIN t USING (event_type)
""",
    doc=(
        "[beyond-ref] semi-structured schema-drift audit: JSON key-set "
        "signature histogram per event type"
    ),
)
def props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which JSON shapes does each event type actually ship? The props
    column's sorted key set collapses to a signature string, counted
    per (event_type, signature) with its share — schema drift from an
    upstream producer (new key, dropped key, split payloads) appears
    as a new signature row with a growing share, caught BEFORE the
    get_json_object consumers start reading nulls.

    Scale shape: signature extraction is narrow (one json_object_keys
    + array_sort + join per row — no parse-explode); the corpus
    collapses at the (type, signature) hash agg whose output
    cardinality is the number of distinct SHAPES, not rows; the
    per-type total joins back from a second agg OF that small frame.

    Robustness contract (both engines identically): only rows whose
    props parse as a JSON OBJECT are audited — Spark's
    json_object_keys yields NULL for malformed/array/scalar JSON where
    DuckDB's json_keys errors or yields [], so the filter pins the
    divergent tails out on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.array_join(F.array_sort(F.json_object_keys("props")), ",").alias(
            "key_sig"
        ),
    ).where(F.col("key_sig").isNotNull())
    c = s.groupBy("event_type", "key_sig").agg(F.count("*").alias("n_events"))
    t = c.groupBy("event_type").agg(F.sum("n_events").alias("_tot"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "key_sig",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# Graph communities: synchronous label propagation (2 fixed rounds) on
# the supplier co-purchase graph — connectivity (CC), centrality
# (PageRank), density (k-core) and now COMMUNITY structure complete the
# graph-analytics family on one shared capped edge set.
# ---------------------------------------------------------------------------

_LPA_ITER = """
l{k} AS (
  SELECT u, lbl FROM (
    SELECT und.u AS u, p.lbl AS lbl, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY und.u
                              ORDER BY COUNT(*) DESC, p.lbl) AS rk
    FROM und JOIN l{p} p ON p.u = und.v
    GROUP BY und.u, p.lbl
  ) WHERE rk = 1
)"""


@register(
    "lpa_communities",
    oracle=f"""
WITH {_SUPPLIER_EDGE_CTES},
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u, u AS lbl FROM und),
{_LPA_ITER.format(k=1, p=0)},
{_LPA_ITER.format(k=2, p=1)},
sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size FROM l2 GROUP BY lbl)
SELECT CAST(l2.u AS BIGINT) AS supplier, CAST(l2.lbl AS BIGINT) AS community,
       sz.community_size
FROM l2 JOIN sz ON sz.lbl = l2.lbl
""",
    doc=(
        "[beyond-ref] label-propagation communities (2 synchronous rounds, "
        "integer-only argmax) on the supplier co-purchase graph"
    ),
)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community assignment per supplier after two synchronous
    label-propagation rounds (most-frequent neighbor label, ties to the
    smallest), with each community's size — the community tier of the
    graph family over the same capped co-purchase edges as
    triangles/PageRank/k-core.

    Determinism: the entire computation is INTEGER — the per-node
    argmax is max(struct(count, −label)) here and the definitional
    ROW_NUMBER argmax in the oracle, so no float ordering can diverge.

    Scale shape: per round one edge-keyed join + two hash aggs over
    the capped, checkpointed edge set; the size join is label-keyed on
    the node-sized output frame. No window on the Spark side at all.
    """
    from ..operators.graph import label_propagation

    lbl = label_propagation(_supplier_edges(spark, sf_dir), iters=2)
    sz = lbl.groupBy("community").agg(F.count("*").alias("community_size"))
    return lbl.join(sz, "community").select(
        F.col("node").alias("supplier"), "community", "community_size"
    )


# ---------------------------------------------------------------------------
# Community quality: Newman modularity of the LPA partition — one number
# grading how much denser the communities are than a random rewiring.
# ---------------------------------------------------------------------------


@register(
    "community_modularity",
    oracle=f"""
WITH {_SUPPLIER_EDGE_CTES},
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT DISTINCT u, u AS lbl FROM und),
{_LPA_ITER.format(k=1, p=0)},
{_LPA_ITER.format(k=2, p=1)},
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM und),
intra AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS intra2
  FROM und
  JOIN l2 a ON a.u = und.u
  JOIN l2 b ON b.u = und.v
  WHERE a.lbl = b.lbl
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
dc AS (
  SELECT l2.lbl, CAST(SUM(deg.d) AS BIGINT) AS dsum
  FROM deg JOIN l2 ON l2.u = deg.u GROUP BY l2.lbl
),
sq AS (SELECT CAST(SUM(dsum * dsum) AS BIGINT) AS sumsq FROM dc),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities FROM dc)
SELECT nc.n_communities,
       CAST(m.m2 / 2 AS BIGINT) AS n_edges,
       ROUND(CAST(intra.intra2 AS DOUBLE) / CAST(m.m2 AS DOUBLE)
             - CAST(sq.sumsq AS DOUBLE) / (CAST(m.m2 AS DOUBLE) * CAST(m.m2 AS DOUBLE)),
             6) AS modularity
FROM m CROSS JOIN intra CROSS JOIN sq CROSS JOIN nc
""",
    doc=(
        "[beyond-ref] Newman modularity of the LPA partition — "
        "integer-exact edge/degree accumulators, one final float expression"
    ),
)
def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q = Σ_c (e_c/m − (d_c/2m)²): how much denser are the LPA
    communities than a degree-preserving random rewiring? The quality
    gate for any community assignment (near-zero Q means LPA found
    nothing; a drop between runs flags a graph-shape shift upstream).

    Determinism: every accumulator is an exact integer over the
    mirrored edge set — intra-community directed-edge count, per-
    community degree sums, Σd², 2m — and the only float math is the
    single final expression, identical in both engines. Equivalent
    form used: Q = intra2/m2 − Σd²/m2² with m2 = 2m.

    Scale shape: two label joins against the node-sized community map
    (edge-keyed), one degree agg, one community-keyed agg — all
    bounded by the capped edge set; four 1-row frames cross-joined at
    the end.
    """
    from ..operators.graph import label_propagation

    edges = _supplier_edges(spark, sf_dir)
    e = edges.select("u", "v")
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lbl = label_propagation(edges, iters=2).select(
        F.col("node").alias("u"), F.col("community").alias("lbl")
    )
    m = und.agg(F.count("*").alias("_m2"))
    intra = (
        und.join(lbl.withColumnRenamed("u", "_a").withColumnRenamed("lbl", "la"),
                 F.col("u") == F.col("_a"))
        .join(lbl.withColumnRenamed("u", "_b").withColumnRenamed("lbl", "lb"),
              F.col("v") == F.col("_b"))
        .where(F.col("la") == F.col("lb"))
        .agg(F.count("*").alias("_intra2"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    dc = deg.join(lbl, "u").groupBy("lbl").agg(F.sum("d").alias("dsum"))
    sq = dc.agg(
        F.sum(F.col("dsum") * F.col("dsum")).alias("_sumsq"),
        F.count("*").alias("_nc"),
    )
    j = m.crossJoin(intra).crossJoin(sq)
    m2 = F.col("_m2").cast("double")
    return j.select(
        F.col("_nc").alias("n_communities"),
        (F.col("_m2") / 2).cast("long").alias("n_edges"),
        F.round(
            F.col("_intra2").cast("double") / m2
            - F.col("_sumsq").cast("double") / (m2 * m2),
            6,
        ).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# Rank statistics: Spearman correlation, KS split drift, decile table.
# All three ride the value-bucketed rank/prefix-sum primitives — exact
# global order statistics with no single-partition window anywhere.
# ---------------------------------------------------------------------------


@register(
    "spearman_spend_balance",
    oracle="""
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT custkey, rev, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
  FROM rev JOIN customer ON custkey = c_custkey
),
r AS (
  SELECT custkey,
         2 * CAST(RANK() OVER (ORDER BY rev) AS BIGINT)
           + CAST(COUNT(*) OVER (PARTITION BY rev) AS BIGINT) - 1 AS mr2x,
         2 * CAST(RANK() OVER (ORDER BY bal) AS BIGINT)
           + CAST(COUNT(*) OVER (PARTITION BY bal) AS BIGINT) - 1 AS mr2y
  FROM j
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mr2x) AS BIGINT) AS sx, CAST(SUM(mr2y) AS BIGINT) AS sy,
         CAST(SUM(mr2x * mr2y) AS BIGINT) AS sxy,
         CAST(SUM(mr2x * mr2x) AS BIGINT) AS sxx,
         CAST(SUM(mr2y * mr2y) AS BIGINT) AS syy
  FROM r
)
SELECT n AS n_customers,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS spearman_rho
FROM a
""",
    doc="[beyond-ref] Spearman rank correlation (tie-correct midranks) between customer spend and account balance",
)
def spearman_spend_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between a customer's total spend and account balance
    — the robust (monotone, outlier-proof) alternative to the Pearson
    ``corr`` in ``stats_aggregates``; ties get textbook average ranks.

    Exactness: every SUM is INTEGER. The average rank of a tie group is
    min_rank + (c−1)/2, so DOUBLED midranks (mr2 = 2·cum_count − c + 1)
    stay integral, and Pearson on mr2 equals Pearson on midranks (scale
    invariance). Moment sums fit int64 to ~1.9×10⁶ keys (Σmr2² ≈
    4n³/3 < 2⁶³); promote the sums to DECIMAL past that. The final
    combination (n·sxy − sx·sy etc.) runs in IEEE DOUBLE — r9 fix: the
    integer form overflowed int64 at the sf1 rehearsal's 150 k keys
    (n·sxx ≈ 6.8×10²⁰), caught by BENCH_SF1's gate; each long casts
    correctly-rounded to double and the op tree is identical in both
    engines, so the differential stays exact while the expression now
    survives any key count the sums survive.

    Scale shape: midranks come from the distinct-VALUE frame (groupBy
    value → count), not per-row windows: ``value_bucketed_prefix_sum``
    gives each value its exact inclusive cumulative count (bucketed
    two-phase, no single-partition window), then mr2 joins back on the
    value — two value-cardinality shuffles and one 1-row final agg.
    The joined (rev, bal) frame feeds BOTH midrank maps and the final
    join, so it is lazily ``localCheckpoint``-ed once instead of
    re-running the orders groupBy + customer join three times.
    """
    from ..operators.topk import value_bucketed_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    j = rev.join(
        customer.select(
            F.col("c_custkey").alias("custkey"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        ),
        "custkey",
    ).localCheckpoint(eager=False)

    def mr2_map(col: str, out: str) -> DataFrame:
        g = j.groupBy(col).agg(F.count("*").alias("c"))
        p = value_bucketed_prefix_sum(g, col, ["c"], prefix="cum_")
        return p.select(
            col, (2 * F.col("cum_c") - F.col("c") + 1).alias(out)
        )

    t = j.join(mr2_map("rev", "mr2x"), "rev").join(mr2_map("bal", "mr2y"), "bal")
    a = t.agg(
        F.count("*").alias("n"),
        F.sum("mr2x").alias("sx"),
        F.sum("mr2y").alias("sy"),
        F.sum(F.col("mr2x") * F.col("mr2y")).alias("sxy"),
        F.sum(F.col("mr2x") * F.col("mr2x")).alias("sxx"),
        F.sum(F.col("mr2y") * F.col("mr2y")).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    return a.select(
        F.col("n").alias("n_customers"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("spearman_rho"),
    )


_KS_HASH_SPARK = "conv(substring(md5(cast(o_orderkey AS string)), 1, 4), 16, 10) % 100"
_KS_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 100"


@register(
    "ks_two_sample_split",
    oracle=f"""
WITH s AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN {_KS_HASH_DUCK} < 80 THEN 1 ELSE 0 END AS is_a
  FROM orders
),
g AS (
  SELECT v, CAST(SUM(is_a) AS BIGINT) AS na, CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM s GROUP BY v
),
t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM g),
c AS (
  SELECT v,
         CAST(SUM(na) OVER (ORDER BY v) AS BIGINT) AS cna,
         CAST(SUM(nb) OVER (ORDER BY v) AS BIGINT) AS cnb
  FROM g
),
d AS (
  SELECT v, ABS(CAST(cna AS DOUBLE) / ta - CAST(cnb AS DOUBLE) / tb) AS d
  FROM c, t
),
m AS (SELECT v, d FROM d ORDER BY d DESC, v DESC LIMIT 1)
SELECT t.ta AS n_train, t.tb AS n_holdout,
       ROUND(m.d, 6) AS ks_stat, ROUND(m.v / 100.0, 2) AS at_price
FROM t, m
""",
    doc="[beyond-ref] two-sample Kolmogorov-Smirnov statistic between the md5-hash train split and its holdout (split drift audit)",
)
def ks_two_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the order-price
    distributions of the deterministic 80 % train split and its 20 %
    holdout — the distribution-level companion of ``split_drift_tvd``
    (TVD bins; KS sees the full ECDF, catching shifts binning hides).

    KS = max over values of |ECDF_a − ECDF_b|. Both ECDFs come from
    ONE ``value_bucketed_prefix_sum`` call over the distinct-price
    frame (two integral weight columns, one bucketed pass — no
    single-partition window even though the ECDF is a global
    cumulative). Each ECDF point is a single division of exact longs,
    the max is over bit-identical doubles, and the argmax tie-break is
    lexicographic (d, v) via one max(struct) — deterministic on both
    engines. The split totals each ECDF divides by ride the SAME
    broadcast bucket-total fold (``total_prefix``) — the pre-r8
    ``g.agg`` + ``crossJoin`` re-ran the whole orders groupBy for
    them.
    """
    from ..operators.topk import value_bucketed_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.expr(_KS_HASH_SPARK)
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(bucket < 80, F.lit(1)).otherwise(F.lit(0)).alias("is_a"),
    )
    g = s.groupBy("v").agg(
        F.sum("is_a").alias("na"), F.sum(1 - F.col("is_a")).alias("nb")
    )
    c = value_bucketed_prefix_sum(
        g, "v", ["na", "nb"], prefix="cum_", total_prefix="tot_"
    )
    d = c.select(
        "v",
        F.col("tot_na").alias("ta"),
        F.col("tot_nb").alias("tb"),
        F.abs(
            F.col("cum_na").cast("double") / F.col("tot_na")
            - F.col("cum_nb").cast("double") / F.col("tot_nb")
        ).alias("d"),
    )
    m = d.agg(
        F.max("ta").alias("ta"),
        F.max("tb").alias("tb"),
        F.max(F.struct(F.col("d"), F.col("v"))).alias("m"),
    )
    return m.select(
        F.col("ta").alias("n_train"),
        F.col("tb").alias("n_holdout"),
        F.round(F.col("m.d"), 6).alias("ks_stat"),
        F.round(F.col("m.v") / 100.0, 2).alias("at_price"),
    )


@register(
    "customer_value_deciles",
    oracle="""
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT custkey, rev,
         CAST(NTILE(10) OVER (ORDER BY rev, custkey) AS BIGINT) AS decile
  FROM rev
),
t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM rev)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(rev) AS DOUBLE) / 100.0, 2) AS total_revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS revenue_share
FROM d, t
GROUP BY decile, t.tot
""",
    doc="[beyond-ref] customer lifetime-value decile table (scale-safe NTILE: exact rank arithmetic, no global window)",
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value decile table — the segmentation cut
    marketing/finance reads off the Lorenz curve the Gini audit
    (``revenue_concentration``) summarizes.

    NTILE without NTILE: ``NTILE(k) OVER (ORDER BY …)`` is exactly
    ``floor((i−1)·k/n) + 1`` on the unique 1-based rank i (first
    n mod k tiles get the extra row — same remainder layout), so the
    decile comes from ``value_bucketed_rank`` arithmetic instead of a
    dim-sized single-partition window. The oracle runs the real
    NTILE; the differential proves the identity on every row.

    One pass: n rides the rank primitive's broadcast offsets fold
    (``total_col``); the grand revenue total divides the shares from
    an array fold INSIDE the ≤10-row decile table — neither needs the
    count/sum+crossJoin re-traversal of the ranked frame this had
    before r8.
    """
    from ..operators.topk import value_bucketed_rank

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    ranked = value_bucketed_rank(rev, "rev", ["custkey"], rank_col="i", total_col="_n")
    d = ranked.withColumn(
        "decile", (((F.col("i") - 1) * 10) / F.col("_n")).cast("long") + 1
    )
    per = d.groupBy("decile").agg(
        F.count("*").alias("nc"), F.sum("rev").cast("long").alias("s")
    )
    arr = per.agg(
        F.collect_list(F.struct("decile", "nc", "s")).alias("_l")
    ).select(
        F.aggregate(
            F.col("_l"), F.lit(0).cast("long"), lambda acc, x: acc + x["s"]
        ).alias("_tot"),
        F.explode("_l").alias("_e"),
    )
    return arr.select(
        F.col("_e.decile").alias("decile"),
        F.col("_e.nc").alias("n_customers"),
        F.round(F.col("_e.s").cast("double") / 100.0, 2).alias("total_revenue"),
        F.round(
            F.col("_e.s").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Corpus-mix diversity: per-source language entropy and Simpson index.
# ---------------------------------------------------------------------------


@register(
    "source_diversity_index",
    oracle="""
WITH g AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
s AS (
  SELECT source,
         LIST(struct_pack(lang := lang, n := n) ORDER BY lang) AS l
  FROM g GROUP BY source
),
a AS (
  SELECT source,
         LIST_SUM(LIST_TRANSFORM(l, x -> x.n)) AS nd,
         CAST(LEN(l) AS BIGINT) AS n_langs,
         LIST_SUM(LIST_TRANSFORM(l, x -> CAST(x.n AS DOUBLE) * LN(CAST(x.n AS DOUBLE)))) AS s_nlogn,
         LIST_SUM(LIST_TRANSFORM(l, x -> x.n * x.n)) AS nsq
  FROM s
)
SELECT source, CAST(nd AS BIGINT) AS n_docs, n_langs,
       ROUND(LN(CAST(nd AS DOUBLE)) - s_nlogn / CAST(nd AS DOUBLE), 6) AS lang_entropy_nats,
       ROUND(CAST(nsq AS DOUBLE) / CAST(nd * nd AS DOUBLE), 6) AS simpson_index
FROM a
""",
    doc="[beyond-ref] per-source language-mix diversity: Shannon entropy + Simpson concentration (corpus-mix audit)",
)
def source_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How language-diverse is each ingestion source? Shannon entropy
    (nats) and Simpson concentration (Σp²) of the per-source language
    mix — the corpus-composition audit next to ``domain_mix_weights``
    (which reweights; this one measures).

    Scale shape: the corpus collapses at the first (source, lang)
    groupBy; everything after runs on a sources×langs frame (bounded
    by catalog design). The entropy sum folds in lang order on both
    engines (H = ln N − Σ n·ln n / N, the house ordered-fold
    discipline); Simpson is exact-integer Σn² over exact N².
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    s = g.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("lang", "n"))).alias("l")
    )
    zero_l = F.lit(0).cast("long")
    nd = F.aggregate(F.col("l"), zero_l, lambda acc, x: acc + x["n"])
    s_nlogn = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda acc, x: acc + x["n"].cast("double") * F.log(x["n"].cast("double")),
    )
    nsq = F.aggregate(F.col("l"), zero_l, lambda acc, x: acc + x["n"] * x["n"])
    a = s.select(
        "source",
        nd.alias("nd"),
        F.size("l").cast("long").alias("n_langs"),
        s_nlogn.alias("s_nlogn"),
        nsq.alias("nsq"),
    )
    return a.select(
        "source",
        F.col("nd").alias("n_docs"),
        "n_langs",
        F.round(
            F.log(F.col("nd").cast("double")) - F.col("s_nlogn") / F.col("nd").cast("double"), 6
        ).alias("lang_entropy_nats"),
        F.round(
            F.col("nsq").cast("double") / (F.col("nd") * F.col("nd")).cast("double"), 6
        ).alias("simpson_index"),
    )


# ---------------------------------------------------------------------------
# Time-series: weekday seasonal decomposition and Holt linear-trend
# forecasting (the level+trend sibling of daily_ewma_forecast).
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonal_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
wk AS (
  SELECT ISODOW(day) - 1 AS weekday,
         CAST(SUM(rev) AS BIGINT) AS sw,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM daily GROUP BY ISODOW(day) - 1
)
SELECT d.day, ISODOW(d.day) - 1 AS weekday, d.n_orders,
       ROUND(CAST(d.rev AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(w.sw AS DOUBLE) / w.cnt / 100.0, 4) AS weekday_mean_revenue,
       ROUND(CAST(d.rev AS DOUBLE) / 100.0 - CAST(w.sw AS DOUBLE) / w.cnt / 100.0, 4) AS residual
FROM daily d JOIN wk w ON ISODOW(d.day) - 1 = w.weekday
""",
    doc="[beyond-ref] weekday seasonal decomposition of daily revenue: seasonal means + deseasonalized residuals",
)
def weekday_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition at weekly period: each day's
    revenue against its weekday's mean, residual = actual − seasonal —
    the first stage of an STL-style pipeline and the denominator the
    anomaly tier (``daily_anomaly_flags``) would use to de-season its
    z-scores.

    Scale shape: the fact table collapses to calendar days at the
    first agg; the seasonal component is a 7-row broadcast join back.
    Weekday convention: Monday=0 (Spark ``weekday()`` ≡ DuckDB
    ``ISODOW()−1`` — the one weekday function pair the engines agree
    on without a shim). Numeric discipline: cents-exact sums; the mean
    and residual are single chains of double ops on exact ints,
    identical expression trees both sides.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"),
    )
    wk = daily.groupBy(F.weekday("day").alias("weekday")).agg(
        F.sum("rev").alias("sw"), F.count("*").alias("cnt")
    )
    j = daily.withColumn("weekday", F.weekday("day")).join(F.broadcast(wk), "weekday")
    mean = F.col("sw").cast("double") / F.col("cnt") / F.lit(100.0)
    return j.select(
        "day",
        "weekday",
        "n_orders",
        F.round(F.col("rev").cast("double") / 100.0, 2).alias("revenue"),
        F.round(mean, 4).alias("weekday_mean_revenue"),
        F.round(F.col("rev").cast("double") / 100.0 - mean, 4).alias("residual"),
    )


@register(
    "holt_linear_forecast",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE)
),
seq AS (
  SELECT LIST(struct_pack(day := day, n := n) ORDER BY day) AS s FROM daily
),
st AS (
  -- per prefix: fold [level, trend] pairs in day order; the first
  -- element seeds the reduce as [x1, 0.0] (l=x1, b=0)
  SELECT s, LIST_TRANSFORM(
    RANGE(1, LEN(s) + 1),
    i -> LIST_REDUCE(
           LIST_TRANSFORM(s[1:i], x -> [CAST(x.n AS DOUBLE), 0.0]),
           (acc, x) -> [
             0.3 * x[1] + 0.7 * (acc[1] + acc[2]),
             0.1 * ((0.3 * x[1] + 0.7 * (acc[1] + acc[2])) - acc[1]) + 0.9 * acc[2]
           ]
         )
  ) AS states
  FROM seq
)
SELECT u.day, u.n,
       ROUND(lv, 6) AS holt_level,
       ROUND(tr, 6) AS holt_trend,
       CASE WHEN idx > 1
            THEN ROUND(CAST(u.n AS DOUBLE) - (plv + ptr), 6) END AS forecast_error
FROM st,
LATERAL (
  SELECT s[CAST(i AS INTEGER)].day AS day, s[CAST(i AS INTEGER)].n AS n,
         states[CAST(i AS INTEGER)][1] AS lv,
         states[CAST(i AS INTEGER)][2] AS tr,
         CASE WHEN i > 1 THEN states[CAST(i AS INTEGER) - 1][1] END AS plv,
         CASE WHEN i > 1 THEN states[CAST(i AS INTEGER) - 1][2] END AS ptr,
         i AS idx
  FROM UNNEST(RANGE(1, LEN(s) + 1)) AS t(i)
) u
""",
    doc="[beyond-ref] Holt double-exponential smoothing (level+trend, alpha=0.3 beta=0.1) with one-step-ahead forecast error",
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing over daily event volume — the
    trend-aware upgrade of ``daily_ewma_forecast`` (EWMA lags any
    sustained ramp; Holt's trend term removes that bias). One-step
    forecast f_t = l_{t−1} + b_{t−1}; error = actual − f.

    Recursion: l' = α·x + (1−α)(l+b); b' = β(l'−l) + (1−β)b, seeded
    l₁=x₁, b₁=0. Like EWMA this is inherently sequential, so both
    engines run the SAME day-ordered fold — Spark as one
    ``F.aggregate`` accumulating the [level, trend] path, DuckDB as an
    ordered LIST_REDUCE per prefix — with literally identical
    expression trees (l' is expanded inside b' on both sides), so
    every float op sees identical operands in identical order.

    Scale shape: corpus → one row per day at the first agg; the fold
    runs on the calendar-sized array in a single task (same contract
    as the EWMA/anomaly tier).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    seq = daily.agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("s"))
    folded = F.aggregate(
        F.col("s"),
        F.expr("CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0,
                    F.array(x["n"].cast("double"), F.lit(0.0)),
                ).otherwise(
                    F.array(
                        F.lit(0.3) * x["n"].cast("double")
                        + F.lit(0.7)
                        * (
                            F.element_at(F.element_at(acc, -1), 1)
                            + F.element_at(F.element_at(acc, -1), 2)
                        ),
                        F.lit(0.1)
                        * (
                            (
                                F.lit(0.3) * x["n"].cast("double")
                                + F.lit(0.7)
                                * (
                                    F.element_at(F.element_at(acc, -1), 1)
                                    + F.element_at(F.element_at(acc, -1), 2)
                                )
                            )
                            - F.element_at(F.element_at(acc, -1), 1)
                        )
                        + F.lit(0.9) * F.element_at(F.element_at(acc, -1), 2)
                    )
                )
            ),
        ),
    )
    rows = seq.select("s", folded.alias("states")).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("s")),
                lambda i: F.struct(
                    F.element_at(F.col("s"), i)["day"].alias("day"),
                    F.element_at(F.col("s"), i)["n"].alias("n"),
                    F.round(
                        F.element_at(F.element_at(F.col("states"), i), 1), 6
                    ).alias("holt_level"),
                    F.round(
                        F.element_at(F.element_at(F.col("states"), i), 2), 6
                    ).alias("holt_trend"),
                    F.when(
                        i > 1,
                        F.round(
                            F.element_at(F.col("s"), i)["n"].cast("double")
                            - (
                                F.element_at(
                                    F.element_at(F.col("states"), i - 1), 1
                                )
                                + F.element_at(
                                    F.element_at(F.col("states"), i - 1), 2
                                )
                            ),
                            6,
                        ),
                    ).alias("forecast_error"),
                ),
            )
        ).alias("r")
    )
    return rows.select(
        "r.day", "r.n", "r.holt_level", "r.holt_trend", "r.forecast_error"
    )


# ---------------------------------------------------------------------------
# Time-series autocorrelation and experiment analysis.
# ---------------------------------------------------------------------------


@register(
    "acf_daily_events",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE)
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS sx, CAST(SUM(n * n) AS BIGINT) AS sxx,
         CAST(COUNT(*) AS BIGINT) AS nn
  FROM daily
),
mu AS (SELECT sx, sxx, nn, CAST(sx AS DOUBLE) / nn AS mu FROM tot),
lagj AS (
  SELECT t.k AS lag,
         CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
         CAST(SUM(a.n) AS BIGINT) AS sa,
         CAST(SUM(b.n) AS BIGINT) AS sb,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM range(1, 8) t(k)
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(t.k AS INTEGER)
  GROUP BY t.k
)
SELECT l.lag, l.m AS n_pairs,
       ROUND(
         (CAST(l.sxy AS DOUBLE) - u.mu * l.sa - u.mu * l.sb + l.m * u.mu * u.mu)
         / (CAST(u.sxx AS DOUBLE) - 2.0 * u.mu * u.sx + u.nn * u.mu * u.mu),
         6
       ) AS acf
FROM lagj l, mu u
""",
    doc="[beyond-ref] autocorrelation function of daily event volume at lags 1-7 via exact integer moment sums",
)
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7 — the seasonality detector that tells the forecasting tier
    (``daily_ewma_forecast`` / ``holt_linear_forecast`` /
    ``weekday_seasonal_decompose``) which period, if any, to model: a
    spike at lag 7 confirms the weekday cycle, decay-to-noise says
    EWMA suffices.

    ACF_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)², expanded into pure
    integer moment sums (Σxy, Σx over pairs, Σx², n) so both engines
    evaluate the SAME double expression tree on exact-int operands —
    no float accumulation to diverge. Pairing is by calendar offset
    (day+k must exist), not row order, so gap days shorten the pair
    set instead of silently misaligning it.

    Scale shape: the corpus collapses to calendar days at the first
    agg; the lag pairing is a 7-way explode + equi-join on the
    day-sized frame, and the moment totals ride a 1-row broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    tot = daily.agg(
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.count("*").alias("nn"),
    ).withColumn("mu", F.col("sx").cast("double") / F.col("nn"))
    a = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"), "day", "n"
    ).withColumn("tday", F.date_add("day", F.col("lag")))
    b = daily.select(F.col("day").alias("tday"), F.col("n").alias("bn"))
    lagj = (
        a.join(b, "tday")
        .groupBy("lag")
        .agg(
            F.sum(F.col("n") * F.col("bn")).alias("sxy"),
            F.sum("n").alias("sa"),
            F.sum("bn").alias("sb"),
            F.count("*").alias("m"),
        )
    )
    u = F.broadcast(tot)
    num = (
        F.col("sxy").cast("double")
        - F.col("mu") * F.col("sa")
        - F.col("mu") * F.col("sb")
        + F.col("m") * F.col("mu") * F.col("mu")
    )
    den = (
        F.col("sxx").cast("double")
        - F.lit(2.0) * F.col("mu") * F.col("sx")
        + F.col("nn") * F.col("mu") * F.col("mu")
    )
    return lagj.crossJoin(u).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("m").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


_AB_HASH_SPARK = "conv(substring(md5(cast(o_orderkey AS string)), 1, 4), 16, 10) % 2"
_AB_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT) % 2"


@register(
    "ab_test_proportions",
    oracle=f"""
WITH s AS (
  SELECT CASE WHEN {_AB_HASH_DUCK} = 0 THEN 1 ELSE 0 END AS is_a,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS conv
  FROM orders
),
g AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(is_a * conv) AS BIGINT) AS ca,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb,
         CAST(SUM((1 - is_a) * conv) AS BIGINT) AS cb
  FROM s
),
p AS (
  SELECT na, ca, nb, cb,
         CAST(ca AS DOUBLE) / na AS pa,
         CAST(cb AS DOUBLE) / nb AS pb,
         CAST(ca + cb AS DOUBLE) / (na + nb) AS pp
  FROM g
)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND((pa - pb) / SQRT(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) AS z_score
FROM p
""",
    doc="[beyond-ref] two-proportion z-test over a deterministic hash split (the A/B experiment readout)",
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the two arms of a deterministic
    md5 50/50 split of orders, with "conversion" = high-priority order
    — the experiment-analysis readout every data platform ends up
    hosting (here also a null-hypothesis self-check: the split is
    random w.r.t. priority, so |z| should stay small, and a large |z|
    would flag a broken bucketing hash).

    z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with the pooled p̂.
    All four inputs are exact integer counts from ONE full-table agg
    (conditional sums, map-side combinable); the z expression is a
    single double tree on those exact ints, identical operand order on
    both engines, and ``sqrt`` is correctly rounded per IEEE — so the
    hashes match bit-for-bit. One row out; nothing else shuffles.
    """
    orders = load_table(spark, sf_dir, "orders")
    is_a = F.when(F.expr(_AB_HASH_SPARK).cast("long") == 0, F.lit(1)).otherwise(
        F.lit(0)
    )
    conv = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    g = orders.select(is_a.alias("is_a"), conv.alias("conv")).agg(
        F.sum("is_a").alias("na"),
        F.sum(F.col("is_a") * F.col("conv")).alias("ca"),
        F.sum(1 - F.col("is_a")).alias("nb"),
        F.sum((1 - F.col("is_a")) * F.col("conv")).alias("cb"),
    )
    p = g.select(
        "na",
        "ca",
        "nb",
        "cb",
        (F.col("ca").cast("double") / F.col("na")).alias("pa"),
        (F.col("cb").cast("double") / F.col("nb")).alias("pb"),
        ((F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))).alias(
            "pp"
        ),
    )
    return p.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round("pa", 6).alias("p_a"),
        F.round("pb", 6).alias("p_b"),
        F.round(
            (F.col("pa") - F.col("pb"))
            / F.sqrt(
                F.col("pp")
                * (F.lit(1.0) - F.col("pp"))
                * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
            ),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring, BFS reachability, and sliding exact
# distinct users.
# ---------------------------------------------------------------------------


@register(
    "bigram_lm_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS ws
  FROM documents
),
pr AS (
  SELECT doc_id,
         ws[CAST(i AS INTEGER)] AS w1,
         ws[CAST(i AS INTEGER) + 1] AS w2
  FROM tok, UNNEST(RANGE(1, LEN(ws))) t(i)
),
pf AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pr GROUP BY doc_id, w1, w2
),
c2 AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM pf GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
vt AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents) q
  WHERE token <> ''
),
j AS (
  SELECT pf.doc_id, pf.w1, pf.w2, pf.cnt, c2.c2, c1.c1
  FROM pf JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
),
ag AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         LIST(struct_pack(w1 := w1, w2 := w2, cnt := cnt, c2 := c2, c1 := c1)
              ORDER BY w1, w2) AS l
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       ROUND(
         -LIST_SUM(
            LIST_TRANSFORM(
              l,
              r -> r.cnt * LN((CAST(r.c2 AS DOUBLE) + 0.5)
                              / (CAST(r.c1 AS DOUBLE) + 0.5 * vt.v))
            )
          ) / n_bigrams,
         6
       ) AS bigram_xent_nats
FROM ag, vt
""",
    doc="[beyond-ref] per-doc bigram LM cross-entropy (add-0.5 smoothing) — the order-aware upgrade of the CCNet unigram filter",
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained bigram model
    with add-0.5 smoothing — the order-aware LM quality filter
    (``unigram_cross_entropy`` scores word CHOICE; this also scores
    word ORDER, so shuffled/templated text that fools the unigram
    filter scores high here). p(w₂|w₁) = (c(w₁,w₂)+0.5)/(c(w₁)+0.5·V).

    Scale shape: per-doc bigram tf is one (doc,w₁,w₂)-keyed hash agg
    of the position-exploded pairs; the bigram and left-context tables
    aggregate FROM it (never re-touch the corpus); joins back are
    bigram-keyed; V rides a 1-row broadcast. Per-doc float terms fold
    in (w₁,w₂) order on both engines (sorted collect_list aggregate vs
    LIST ORDER BY + LIST_SUM — the ``unigram_cross_entropy``
    discipline), so every ln sees identical operands in identical
    order. Docs with <2 tokens have no bigrams and drop on both sides
    by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    toks = docs.select("doc_id", ws.alias("ws"))
    idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    pr = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w1"),
                    F.element_at(F.col("ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    pf = pr.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("cnt"))
    c2 = pf.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vt = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .agg(F.count_distinct("token").alias("v"))
    )
    j = pf.join(c2, ["w1", "w2"]).join(c1, ["w1"])
    ag = j.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.array_sort(
            F.collect_list(F.struct("w1", "w2", "cnt", "c2", "c1"))
        ).alias("l"),
    )
    return ag.crossJoin(F.broadcast(vt)).select(
        "doc_id",
        "n_bigrams",
        F.round(
            -F.aggregate(
                F.col("l"),
                F.lit(0.0),
                lambda acc, r: acc
                + r["cnt"].cast("double")
                * F.log(
                    (r["c2"].cast("double") + F.lit(0.5))
                    / (r["c1"].cast("double") + F.lit(0.5) * F.col("v"))
                ),
            )
            / F.col("n_bigrams"),
            6,
        ).alias("bigram_xent_nats"),
    )


@register(
    "bfs_hops_supplier",
    oracle=f"""
WITH RECURSIVE {_SUPPLIER_EDGE_CTES.lstrip()},
g AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
seed AS (SELECT MIN(src) AS s FROM g),
r AS (
  SELECT s AS node, 0 AS d FROM seed
  UNION
  SELECT g.dst, r.d + 1 FROM r JOIN g ON g.src = r.node WHERE r.d < 3
)
SELECT node, CAST(MIN(d) AS BIGINT) AS hop FROM r GROUP BY node
""",
    doc="[beyond-ref] BFS 3-hop reachability from the smallest supplier node (iterative frontier vs recursive-CTE oracle)",
)
def bfs_hops_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤ 3) from the smallest supplier node in
    the capped co-purchase graph — the reachability primitive under
    impact analysis ("which suppliers are within k hops of this
    failure") and the first stage of any distributed shortest-path.

    Spark runs true frontier BFS: 3 synchronized rounds of
    frontier ⋈ edges, each new frontier anti-joined against the
    visited set (so first-reach IS min-hop — no per-path work), with a
    per-round ``localCheckpoint`` truncating the growing lineage (the
    k-core discipline). The DuckDB oracle is the definitional twin: a
    depth-bounded recursive CTE with UNION (not UNION ALL) dedup so
    cycles can't explode the working table, MIN(d) per node. Frontier
    joins carry no broadcast hint — frontiers start at 1 row and can
    grow to graph-sized (VERDICT r6 #5's lesson), so AQE decides.

    Scale shape: the shared checkpointed edge set is sparse by the
    hot-part cap; per round the shuffle is |frontier ⋈ edges|, and the
    3-round bound keeps total work at 3 edge-joins regardless of sf.
    """
    from ..operators.cache import checkpoint_owned, release

    edges = _supplier_edges(spark, sf_dir)
    mirror = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    seed = mirror.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).alias("hop")
    )
    visited = checkpoint_owned(seed)
    frontier = visited
    for k in range(1, 4):
        nxt = checkpoint_owned(
            frontier.join(mirror, frontier.node == mirror.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(k).alias("hop"))
        )
        grown = checkpoint_owned(visited.union(nxt))
        # round 1's frontier IS the seed checkpoint; release is idempotent
        release(visited, frontier)
        visited, frontier = grown, nxt
    release(frontier, edges)  # the result reads the last visited set only
    return visited.select("node", F.col("hop").cast("long").alias("hop"))


@register(
    "rolling_distinct_users",
    oracle="""
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
w AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
  FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
),
dd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS users_1d FROM du GROUP BY day)
SELECT d.day, dd.users_1d, w.users_7d
FROM days d JOIN dd USING (day) JOIN w USING (day)
""",
    doc="[beyond-ref] exact 7-day rolling distinct users per day via contribute-explode dedup (no sliding-window COUNT DISTINCT)",
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct active users for every observed
    day — the DAU/WAU pair. Sliding COUNT(DISTINCT) is the op engines
    punt on (windows can't dedup across frames without holding the
    frame), so the scale shape re-derives it algebraically: the corpus
    collapses to distinct (day, user) at the first agg; each user-day
    then CONTRIBUTES to the ≤ 7 window-end days it falls in (a
    constant-factor explode of the deduped frame, not the corpus), and
    a second distinct+count per window-end day finishes. All
    integers; join-free except the day-keyed assembly of the two
    series. The oracle states the definition directly with a range
    join — correct and O(days·users), affordable only DuckDB-side.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"), "day", "user_id"
    ).select(F.date_add("day", F.col("k")).alias("wday"), "user_id")
    w = (
        contrib.distinct()
        .groupBy("wday")
        .agg(F.count("*").alias("users_7d"))
        .withColumnRenamed("wday", "day")
    )
    dd = du.groupBy("day").agg(F.count("*").alias("users_1d"))
    return days.join(dd, "day").join(w, "day").select("day", "users_1d", "users_7d")


# ---------------------------------------------------------------------------
# Experimentation tier: CUPED variance reduction, difference-in-
# differences, and conversion-latency percentiles.
# ---------------------------------------------------------------------------

_ARM_HASH_SPARK = "conv(substring(md5(cast(user_id AS string)), 1, 4), 16, 10) % 2"
_ARM_HASH_DUCK = "CAST('0x' || SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2"


@register(
    "cuped_adjustment",
    oracle=f"""
WITH b AS (SELECT MIN(CAST(ts AS DATE)) + 14 AS cut FROM events),
u AS (
  SELECT user_id, {_ARM_HASH_DUCK} AS arm,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) <= b.cut
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) > b.cut
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events, b GROUP BY user_id, arm, b.cut
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM u
),
t AS (
  SELECT n, sx, sy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS theta,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
              * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS rho2
  FROM m
),
a AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS ax, CAST(SUM(y) AS BIGINT) AS ay
  FROM u GROUP BY arm
)
SELECT a.arm, a.n_users,
       ROUND(CAST(a.ay AS DOUBLE) / a.n_users / 100.0, 4) AS mean_post,
       ROUND(
         (CAST(a.ay AS DOUBLE) / a.n_users
          - t.theta * (CAST(a.ax AS DOUBLE) / a.n_users
                       - CAST(t.sx AS DOUBLE) / t.n)) / 100.0,
         4
       ) AS mean_post_cuped,
       ROUND(t.theta, 6) AS theta,
       ROUND(t.rho2, 6) AS rho2
FROM a, t
""",
    doc="[beyond-ref] CUPED variance-reduced experiment means: pre-period covariate adjustment with pooled theta and rho-squared",
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data): per-arm
    post-period spend means adjusted by the pre-period covariate,
    ŷ_arm − θ·(x̄_arm − x̄), θ = cov(X,Y)/var(X) pooled — the standard
    variance-reduction step before any A/B readout; ρ² reports the
    variance fraction removed. Pre/post boundary is data-driven
    (min day + 14), so the query is sf-agnostic.

    Determinism: per-user X/Y are exact cents via conditional sums;
    all five pooled moments are exact int64 sums OF those (per-user
    products bounded ~4e10, totals well under 2^63 through sf0.1 —
    the 100 TB form swaps the moment products to DOUBLE at the agg,
    same tree); θ/ρ²/means are one shared double tree over the exact
    moments on both engines. Scale shape: corpus → one row per user at
    the first agg; arm and pooled moments are aggs OF that frame; the
    1-row moment/boundary frames ride broadcasts.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.date_add(F.min(F.to_date("ts")), 14).alias("cut"))
    cents = F.round(F.col("value") * 100).cast("long")
    u = (
        ev.crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.expr(_ARM_HASH_SPARK).cast("long").alias("arm"),
            F.when(F.to_date("ts") <= F.col("cut"), cents).otherwise(F.lit(0)).alias("xv"),
            F.when(F.to_date("ts") > F.col("cut"), cents).otherwise(F.lit(0)).alias("yv"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("xv").alias("x"), F.sum("yv").alias("y"))
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sx, sy, sxy, sxx, syy = (
        F.col(c).cast("double") for c in ("sx", "sy", "sxy", "sxx", "syy")
    )
    n = F.col("n")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    t = m.select(
        "n",
        "sx",
        "sy",
        (cov / varx).alias("theta"),
        (cov * cov / (varx * vary)).alias("rho2"),
    )
    a = u.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("ax"),
        F.sum("y").alias("ay"),
    )
    return a.crossJoin(F.broadcast(t)).select(
        "arm",
        "n_users",
        F.round(F.col("ay").cast("double") / F.col("n_users") / 100.0, 4).alias(
            "mean_post"
        ),
        F.round(
            (
                F.col("ay").cast("double") / F.col("n_users")
                - F.col("theta")
                * (
                    F.col("ax").cast("double") / F.col("n_users")
                    - F.col("sx").cast("double") / F.col("n")
                )
            )
            / 100.0,
            4,
        ).alias("mean_post_cuped"),
        F.round("theta", 6).alias("theta"),
        F.round("rho2", 6).alias("rho2"),
    )


@register(
    "did_estimator",
    oracle=f"""
WITH b AS (SELECT MIN(CAST(ts AS DATE)) + 14 AS cut FROM events),
s AS (
  SELECT {_ARM_HASH_DUCK} AS arm,
         CASE WHEN CAST(ts AS DATE) <= b.cut THEN 0 ELSE 1 END AS post,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events, b
),
c AS (
  SELECT arm, post, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM s GROUP BY arm, post
),
p AS (
  SELECT
    MAX(CASE WHEN arm = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS a_pre,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS a_post,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS b_pre,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS b_post
  FROM c
)
SELECT ROUND(a_pre / 100.0, 4) AS mean_a_pre,
       ROUND(a_post / 100.0, 4) AS mean_a_post,
       ROUND(b_pre / 100.0, 4) AS mean_b_pre,
       ROUND(b_post / 100.0, 4) AS mean_b_post,
       ROUND(((b_post - b_pre) - (a_post - a_pre)) / 100.0, 4) AS did_estimate
FROM p
""",
    doc="[beyond-ref] difference-in-differences estimator over the hash arms and the data-driven pre/post boundary",
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the treatment-effect estimator when
    arms differ at baseline — (B_post − B_pre) − (A_post − A_pre)
    cancels both the arm-level offset and the common time trend. Same
    hash arms and data-driven boundary as ``cuped_adjustment`` (the
    two estimators share an experiment design; CUPED tightens the
    post-only readout, DiD defends against baseline imbalance).

    One full-table agg to 4 (arm × period) cells; the pivot to one row
    is a MAX(CASE) over 4 rows; every mean a single division of exact
    cents by an exact count; the DiD line is one shared double tree.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.date_add(F.min(F.to_date("ts")), 14).alias("cut"))
    s = ev.crossJoin(F.broadcast(b)).select(
        F.expr(_ARM_HASH_SPARK).cast("long").alias("arm"),
        F.when(F.to_date("ts") <= F.col("cut"), F.lit(0)).otherwise(F.lit(1)).alias(
            "post"
        ),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    c = s.groupBy("arm", "post").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    mean = F.col("s").cast("double") / F.col("n")
    p = c.agg(
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 0), mean)).alias("a_pre"),
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 1), mean)).alias("a_post"),
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 0), mean)).alias("b_pre"),
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 1), mean)).alias("b_post"),
    )
    return p.select(
        F.round(F.col("a_pre") / 100.0, 4).alias("mean_a_pre"),
        F.round(F.col("a_post") / 100.0, 4).alias("mean_a_post"),
        F.round(F.col("b_pre") / 100.0, 4).alias("mean_b_pre"),
        F.round(F.col("b_post") / 100.0, 4).alias("mean_b_post"),
        F.round(
            (
                (F.col("b_post") - F.col("b_pre"))
                - (F.col("a_post") - F.col("a_pre"))
            )
            / 100.0,
            4,
        ).alias("did_estimate"),
    )


@register(
    "time_to_convert_percentiles",
    oracle="""
WITH su AS (
  SELECT user_id, MIN(EPOCH_US(ts)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
pu AS (
  SELECT e.user_id, MIN(EPOCH_US(e.ts)) AS t1
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND EPOCH_US(e.ts) > su.t0
  GROUP BY e.user_id
),
d AS (
  SELECT su.user_id, pu.t1 - su.t0 AS dus FROM su JOIN pu ON su.user_id = pu.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY dus) / 1000000.0 AS p25_s,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY dus) / 1000000.0 AS p50_s,
       PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY dus) / 1000000.0 AS p90_s
FROM d
""",
    doc="[beyond-ref] signup-to-first-purchase latency percentiles (exact interpolation on integer microseconds)",
)
def time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, first signup to first subsequent
    purchase, summarized as P25/P50/P90 — the activation metric the
    funnel (``event_funnel``) counts but doesn't time.

    Scale shape: two user-keyed aggs (first signup; first purchase
    after it, computed by joining the purchase stream against the
    broadcast-eligible signup frame) and one user-keyed join — no
    windows. The percentile interpolates on exact integer
    MICROSECONDS (the ``daily_value_percentiles`` milli-unit trick),
    so midpoints are dyadic and bit-identical across engines; the
    single division to seconds happens after.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("t0"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(su, "user_id")
        .where(F.col("t") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    d = su.join(pu, "user_id").select((F.col("t1") - F.col("t0")).alias("dus"))
    return d.agg(
        F.count("*").alias("n_converted"),
        (F.percentile("dus", F.lit(0.25)) / 1000000.0).alias("p25_s"),
        (F.percentile("dus", F.lit(0.5)) / 1000000.0).alias("p50_s"),
        (F.percentile("dus", F.lit(0.9)) / 1000000.0).alias("p90_s"),
    )


@register(
    "winsorized_revenue_stats",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
th AS (
  SELECT PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY c) AS p5,
         PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY c) AS p95
  FROM v
),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN c > th.p5 AND c < th.p95 THEN c ELSE 0 END) AS BIGINT) AS smid,
         CAST(SUM(CASE WHEN c > th.p5 AND c < th.p95 THEN 1 ELSE 0 END) AS BIGINT) AS nmid,
         CAST(SUM(CASE WHEN c <= th.p5 THEN 1 ELSE 0 END) AS BIGINT) AS nlo,
         CAST(SUM(CASE WHEN c >= th.p95 THEN 1 ELSE 0 END) AS BIGINT) AS nhi,
         MAX(th.p5) AS p5, MAX(th.p95) AS p95
  FROM v, th
)
SELECT n,
       ROUND(CAST(s AS DOUBLE) / n / 100.0, 4) AS raw_mean,
       ROUND((CAST(smid AS DOUBLE) + nlo * p5 + nhi * p95) / n / 100.0, 4)
         AS winsorized_mean,
       ROUND(CAST(smid AS DOUBLE) / nmid / 100.0, 4) AS trimmed_mean,
       ROUND(p5 / 100.0, 4) AS p5_value,
       ROUND(p95 / 100.0, 4) AS p95_value
FROM ag
""",
    doc="[beyond-ref] winsorized + trimmed revenue means (5% tails): the outlier-robust KPI pair",
)
def winsorized_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust order-value statistics: the 5 %-winsorized mean
    (tails clamped to P5/P95) and the 5 %-trimmed mean (tails dropped)
    next to the raw mean — the robust-KPI pair that keeps one whale
    order from moving a dashboard; the spread between raw and robust
    IS the outlier-influence signal (cf. ``mad_outlier_audit``).

    Two passes: exact P5/P95 interpolated on integer cents (dyadic —
    bit-identical both engines) ride back as a 1-row broadcast; the
    second pass takes conditional integer sums against those
    thresholds. The winsorized sum is reassembled algebraically
    (S_mid + n_lo·p5 + n_hi·p95) rather than clamping per row, so the
    float work is one shared tree over exact operands. Strict/non-
    strict comparisons pair up exactly (>, <, <=, >=) on both sides.
    """
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    th = v.agg(
        F.percentile("c", F.lit(0.05)).alias("p5"),
        F.percentile("c", F.lit(0.95)).alias("p95"),
    )
    mid = (F.col("c") > F.col("p5")) & (F.col("c") < F.col("p95"))
    ag = v.crossJoin(F.broadcast(th)).agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.when(mid, F.col("c")).otherwise(F.lit(0))).alias("smid"),
        F.sum(F.when(mid, F.lit(1)).otherwise(F.lit(0))).alias("nmid"),
        F.sum(F.when(F.col("c") <= F.col("p5"), F.lit(1)).otherwise(F.lit(0))).alias(
            "nlo"
        ),
        F.sum(F.when(F.col("c") >= F.col("p95"), F.lit(1)).otherwise(F.lit(0))).alias(
            "nhi"
        ),
        F.max("p5").alias("p5"),
        F.max("p95").alias("p95"),
    )
    return ag.select(
        "n",
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 4).alias("raw_mean"),
        F.round(
            (
                F.col("smid").cast("double")
                + F.col("nlo") * F.col("p5")
                + F.col("nhi") * F.col("p95")
            )
            / F.col("n")
            / 100.0,
            4,
        ).alias("winsorized_mean"),
        F.round(F.col("smid").cast("double") / F.col("nmid") / 100.0, 4).alias(
            "trimmed_mean"
        ),
        F.round(F.col("p5") / 100.0, 4).alias("p5_value"),
        F.round(F.col("p95") / 100.0, 4).alias("p95_value"),
    )


# ---------------------------------------------------------------------------
# Privacy tier: k-anonymity and deterministic differential privacy.
# ---------------------------------------------------------------------------


@register(
    "k_anonymity_audit",
    oracle="""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         c_custkey
  FROM customer
),
g AS (
  SELECT c_nationkey, c_mktsegment, bal_band, CAST(COUNT(*) AS BIGINT) AS gsize
  FROM q GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT gsize AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gsize) AS BIGINT) AS n_customers,
       CAST(CASE WHEN gsize < 5 THEN 1 ELSE 0 END AS BIGINT) AS is_risky
FROM g GROUP BY gsize
""",
    doc="[beyond-ref] k-anonymity audit (k=5) over the (nation, segment, balance-band) quasi-identifier: group-size histogram with risk flag",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier (nation, market segment, account-balance band):
    the group-size histogram with every size < k = 5 flagged — a
    record in a group of size 1–4 is re-identifiable by an attacker
    who knows those three public-ish attributes, and this histogram is
    what a release-review board reads before an export (the
    risk-measurement sibling of ``gdpr_delete_audit`` / ``pii_scrub``,
    which handle the remediation side).

    Scale shape: one QI-keyed hash agg collapses the table, a second
    agg over GROUP SIZES (cardinality ≤ max group size) builds the
    histogram. All integers.
    """
    customer = load_table(spark, sf_dir, "customer")
    g = (
        customer.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count("*").alias("gsize"))
    )
    return g.groupBy(F.col("gsize").alias("group_size")).agg(
        F.count("*").alias("n_groups"),
        F.sum("gsize").alias("n_customers"),
        F.max(
            F.when(F.col("gsize") < 5, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("is_risky"),
    )


_DP_U_SPARK = (
    "(conv(substring(md5(concat(n_name, ':dpseed')), 1, 8), 16, 10) + 0.5)"
    " / 4294967296.0"
)
_DP_U_DUCK = (
    "(CAST('0x' || SUBSTRING(md5(n_name || ':dpseed'), 1, 8) AS BIGINT) + 0.5)"
    " / 4294967296.0"
)


@register(
    "dp_noisy_counts",
    oracle=f"""
WITH c AS (
  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
u AS (SELECT n_name, n_customers, {_DP_U_DUCK} AS uu FROM c)
SELECT n_name, n_customers,
       ROUND(
         n_customers
         - (CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END)
           * LN(1.0 - 2.0 * ABS(uu - 0.5)),
         4
       ) AS dp_count
FROM u
""",
    doc="[beyond-ref] epsilon=1 Laplace-noised per-nation counts with deterministic md5-seeded inverse-CDF noise",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε = 1 differentially-private per-nation customer counts: the
    released count is n + Laplace(1/ε) drawn by inverse CDF,
    X = −b·sgn(u−½)·ln(1−2|u−½|) — the noise a DP release layer adds
    so a single customer's presence can't be inferred from the
    histogram (sensitivity of a count is 1, so b = 1/ε = 1).

    The uniform u is DERIVED, not random: md5 of the group key + a
    fixed seed tag, scaled by (h+0.5)/2³² so u ∈ (0,1) strictly (the
    half-step keeps |u−½| < ½, so the ln argument is always positive).
    That makes the query reproducible AND cross-engine identical —
    both engines evaluate the same inverse-CDF tree on the same u; the
    sign is an explicit CASE, not an engine SIGN() whose type varies.
    (Production would swap the md5 for a per-release secret seed;
    determinism-per-seed is a feature there too — it makes releases
    auditable.) Scale shape: one dim-keyed agg, then a projection.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    c = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )
    u = c.withColumn("uu", F.expr(_DP_U_SPARK))
    noise = F.when(F.col("uu") >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0)) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(F.col("uu") - F.lit(0.5))
    )
    return u.select(
        "n_name",
        "n_customers",
        F.round(F.col("n_customers") - noise, 4).alias("dp_count"),
    )


# ---------------------------------------------------------------------------
# Interval analytics [beyond-ref]: sweep-line concurrency — the classic
# "how many intervals overlap at the busiest instant" question (peak
# simultaneous sessions/users, connection-pool sizing, license audits).
# The naive per-instant self-join is quadratic; the sweep-line is two
# rows per interval and one global prefix sum — which is exactly the
# two-phase bucketed primitive.
# ---------------------------------------------------------------------------


@register(
    "peak_concurrent_users",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS s, MAX(ts) AS e
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
d AS (
  SELECT epoch_us(s) AS t, 1 AS p, 0 AS m FROM iv
  UNION ALL
  SELECT epoch_us(e) AS t, 0 AS p, 1 AS m FROM iv
),
g AS (
  SELECT t, CAST(SUM(p) AS BIGINT) AS p, CAST(SUM(m) AS BIGINT) AS m
  FROM d GROUP BY t
),
c AS (
  SELECT t, m,
         CAST(SUM(p) OVER (ORDER BY t) AS BIGINT) AS cum_p,
         CAST(SUM(m) OVER (ORDER BY t) AS BIGINT) AS cum_m
  FROM g
),
pk AS (
  SELECT CAST(make_timestamp(t) AS DATE) AS day,
         CAST(MAX(cum_p - cum_m + m) AS BIGINT) AS peak_concurrent
  FROM c GROUP BY 1
),
n AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_intervals FROM iv GROUP BY day)
SELECT n.day, n.n_intervals, pk.peak_concurrent
FROM n JOIN pk ON pk.day = n.day
""",
    doc=(
        "[beyond-ref] sweep-line interval concurrency: daily peak count of "
        "simultaneously-active user intervals via +1/-1 deltas and a "
        "two-phase global prefix sum (no per-instant self-join)"
    ),
)
def peak_concurrent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak number of simultaneously-active users, where a user's
    activity interval on a day is [first event, last event] (inclusive
    ends: an interval is active AT its endpoints, so a user whose
    session ends the instant another's starts counts as overlapping —
    the conservative capacity answer).

    Sweep-line exactness: per distinct instant t, with P(t) starts and
    M(t) ends, active(t) = cum_P(t) − cum_M(t) + M(t) (ends subtract
    only strictly AFTER their instant). All integer; ties at the same
    microsecond collapse in the (t)-keyed pre-agg, so no within-key
    ordering ambiguity exists at all.

    Scale shape: 2 rows per interval → one t-keyed agg (map-side
    combined) → ``value_bucketed_prefix_sum`` for the global running
    totals (range-bucketed two-phase — never a single-partition window
    even though the sweep order is global) → day-keyed max. The naive
    form this replaces joins every interval against every instant
    (quadratic); the oracle runs the naive WINDOW cumulative as the
    definitional check. The interval frame feeds the delta union twice
    and the per-day count once, so it is lazily localCheckpoint-ed.
    """
    from ..operators.topk import value_bucketed_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .localCheckpoint(eager=False)
    )
    d = iv.select(
        F.unix_micros("s").alias("t"),
        F.lit(1).alias("p"),
        F.lit(0).alias("m"),
    ).unionAll(
        iv.select(
            F.unix_micros("e").alias("t"),
            F.lit(0).alias("p"),
            F.lit(1).alias("m"),
        )
    )
    g = d.groupBy("t").agg(
        F.sum("p").cast("long").alias("p"), F.sum("m").cast("long").alias("m")
    )
    c = value_bucketed_prefix_sum(g, "t", ["p", "m"], prefix="cum_")
    pk = (
        c.select(
            F.to_date(F.timestamp_micros(F.col("t"))).alias("day"),
            (F.col("cum_p") - F.col("cum_m") + F.col("m")).alias("active"),
        )
        .groupBy("day")
        .agg(F.max("active").cast("long").alias("peak_concurrent"))
    )
    n = iv.groupBy("day").agg(F.count("*").alias("n_intervals"))
    return n.join(pk, "day").select("day", "n_intervals", "peak_concurrent")


# ---------------------------------------------------------------------------
# Approximate query processing [beyond-ref]: sample-based estimation
# with a confidence interval, audited against the exact answer — the
# "answer in seconds from a 1% sample, not hours from 100 TB" tier.
# The sample is a deterministic md5 slice so both engines (and every
# re-run) see the identical sample — estimator reproducibility is part
# of the declared semantics, exactly as in the split/sampling tier.
# ---------------------------------------------------------------------------


@register(
    "aqp_sample_mean",
    oracle="""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT)
           % 100 = 0 AS in_sample
  FROM orders
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(cents) AS BIGINT) AS exact_cents,
         CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_s,
         CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN in_sample THEN cents * cents ELSE 0 END) AS BIGINT) AS s2
  FROM c
),
d AS (
  SELECT n_total, n_s, exact_cents, s1, s2,
         CAST(n_total AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
           AS est_cents,
         CAST(n_total AS DOUBLE)
           * SQRT((CAST(s2 AS DOUBLE) / CAST(n_s AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE)))
                  / CAST(n_s AS DOUBLE)) AS se_cents
  FROM t
)
SELECT n_total AS n_orders, n_s AS n_sample,
       ROUND(est_cents / 100.0, 2) AS est_total,
       ROUND(CAST(exact_cents AS DOUBLE) / 100.0, 2) AS exact_total,
       ROUND((est_cents - CAST(exact_cents AS DOUBLE))
             / CAST(exact_cents AS DOUBLE), 6) AS rel_err,
       ROUND((est_cents - 1.96 * se_cents) / 100.0, 2) AS ci_lo,
       ROUND((est_cents + 1.96 * se_cents) / 100.0, 2) AS ci_hi,
       est_cents - 1.96 * se_cents <= CAST(exact_cents AS DOUBLE)
         AND CAST(exact_cents AS DOUBLE) <= est_cents + 1.96 * se_cents
         AS within_ci
FROM d
""",
    doc=(
        "[beyond-ref] approximate query processing: deterministic-1%-sample "
        "total-revenue estimator with a 95% CI, audited against the exact "
        "answer in the same plan"
    ),
)
def aqp_sample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate total order revenue from the deterministic 1 % md5
    sample (Horvitz–Thompson with equal inclusion: N·sample-mean) with
    a 95 % normal CI, next to the exact total and a ``within_ci``
    verdict — the AQP pattern: at 100 TB only the sample branch runs
    (one narrow scan of 1 % of the data); this audited form is how you
    earn trust in it.

    Determinism: sample membership is the md5-slice idiom (identical
    rows in both engines, re-run-stable); all moments (Σx, Σx², both
    sides) are exact int64 cents (Σx² ≈ 10¹⁸ at sf1-scale price
    ranges — promote to DECIMAL for >10⁷-row samples, house note);
    estimator/SE/CI form in one shared double tree. ONE map-side-
    combinable agg computes the sample AND exact sides as conditional
    sums over a single scan — no second pass, no join.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    in_s = (
        F.expr(
            "conv(substring(md5(cast(o_orderkey as string)), 1, 4), 16, 10)"
        ).cast("long")
        % 100
        == 0
    )
    c = orders.select(cents.alias("cents"), in_s.alias("in_sample"))
    t = c.agg(
        F.count("*").alias("n_total"),
        F.sum("cents").alias("exact_cents"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias("n_s"),
        F.sum(F.when(F.col("in_sample"), F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(
            F.when(F.col("in_sample"), F.col("cents") * F.col("cents")).otherwise(0)
        ).alias("s2"),
    )
    nT = F.col("n_total").cast("double")
    nS = F.col("n_s").cast("double")
    mean = F.col("s1").cast("double") / nS
    est = nT * mean
    se = nT * F.sqrt(
        (F.col("s2").cast("double") / nS - mean * mean) / nS
    )
    d = t.select(
        "n_total", "n_s", "exact_cents", est.alias("est_cents"), se.alias("se_cents")
    )
    estc, sec = F.col("est_cents"), F.col("se_cents")
    exc = F.col("exact_cents").cast("double")
    return d.select(
        F.col("n_total").alias("n_orders"),
        F.col("n_s").alias("n_sample"),
        F.round(estc / 100.0, 2).alias("est_total"),
        F.round(exc / 100.0, 2).alias("exact_total"),
        F.round((estc - exc) / exc, 6).alias("rel_err"),
        F.round((estc - 1.96 * sec) / 100.0, 2).alias("ci_lo"),
        F.round((estc + 1.96 * sec) / 100.0, 2).alias("ci_hi"),
        (
            (estc - 1.96 * sec <= exc) & (exc <= estc + 1.96 * sec)
        ).alias("within_ci"),
    )


# ---------------------------------------------------------------------------
# Optimizer-statistics audit [beyond-ref]: histogram-based join
# cardinality estimation vs the exact join size — the cost-based-
# optimizer arithmetic (equi-width key histograms, containment
# assumption) made inspectable. A CBO that mis-estimates by 100× picks
# the wrong join order at 100 TB; this query measures that error on
# the engine's own data.
# ---------------------------------------------------------------------------


@register(
    "join_cardinality_estimate",
    oracle="""
WITH k AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
),
exact AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_rows FROM k),
h AS (
  SELECT user_id % 16 AS bucket,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS d
  FROM k GROUP BY user_id % 16
),
est AS (
  SELECT CAST(SUM(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              / CAST(d AS DOUBLE)) AS DOUBLE) AS est_rows
  FROM h
)
SELECT (SELECT exact_rows FROM exact) AS exact_rows,
       ROUND((SELECT est_rows FROM est), 2) AS est_rows,
       ROUND((SELECT est_rows FROM est)
             / CAST((SELECT exact_rows FROM exact) AS DOUBLE), 6) AS est_ratio
""",
    doc=(
        "[beyond-ref] CBO statistics audit: equi-width-histogram join "
        "cardinality estimate (uniform-within-bucket assumption) vs the "
        "exact self-join size on the events user_id key"
    ),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How well does histogram arithmetic predict a join's output size?
    For the events-to-events equi-join on user_id: exact size =
    Σ_keys c(k)² (computed from the key-count frame, never by
    materializing the join); the estimate is the textbook CBO form on a
    16-bucket equi-width histogram — per bucket (Σc)²/d, i.e. uniform
    frequency within the bucket. ``est_ratio`` is the mis-estimation
    factor a cost-based optimizer would carry into join planning.

    Scale shape: everything flows from ONE key-count agg (corpus
    collapses at the first shuffle); the histogram is a 16-row agg of
    that; exact Σc² is int64 (promote past ~10⁹-row hot keys, house
    note); the estimate divides in one shared double tree.
    """
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").alias("c")).localCheckpoint(
        eager=False
    )
    exact = k.agg(F.sum(F.col("c") * F.col("c")).alias("exact_rows"))
    h = k.groupBy((F.col("user_id") % 16).alias("bucket")).agg(
        F.sum("c").alias("n"), F.count("*").alias("d")
    )
    est = h.agg(
        F.sum(
            F.col("n").cast("double")
            * F.col("n").cast("double")
            / F.col("d").cast("double")
        ).alias("est_rows")
    )
    j = exact.crossJoin(F.broadcast(est))
    return j.select(
        F.col("exact_rows"),
        F.round(F.col("est_rows"), 2).alias("est_rows"),
        F.round(
            F.col("est_rows") / F.col("exact_rows").cast("double"), 6
        ).alias("est_ratio"),
    )


# ---------------------------------------------------------------------------
# BPE merge LEARNING [beyond-ref] — the iterative half of tokenizer
# training that bpe_pair_counts only counts one round of: R=4 rounds of
# (count adjacent symbol pairs globally) -> (pick the argmax merge,
# count desc / pair asc) -> (APPLY the merge to every token) -> repeat,
# emitting the learned merge table with per-round pair counts and the
# number of merge applications actually performed.
#
# Merge application is defined cross-engine-exactly as TWO passes of
# literal leftmost-nonoverlapping string replace over the single-space
# symbol encoding (' a b c ' with bounding spaces, pattern ' a b ' ->
# ' ab '): symbols never contain spaces, so a match always aligns with
# whole symbols; pass 1 can skip an occurrence that shares a boundary
# space with the previous match, and pass 2 (whose deferred occurrences
# are provably mutually non-adjacent) reaches the fixpoint. Spark's
# `replace` and DuckDB's REPLACE implement the identical single-scan
# semantics, so the working corpus after every round is byte-equal in
# both engines. (Inside odd-length self-runs this yields e.g.
# [aa, a, aa] where HF-BPE's priority-queue applier yields [aa, aa, a]
# — same symbol multiset, different positions; a documented tie-rule
# choice, deterministic in both engines.)
#
# Scale shape per round: one explode over the working corpus feeding a
# map-side-combined (a, b) hash agg (output <= |symbol alphabet|²); the
# argmax is a 1-row TakeOrderedAndProject; the apply is a NARROW per-row
# double replace. Rounds are a constant (4); the working corpus is
# localCheckpointed per round (the pagerank discipline) so round r+1
# scans materialized rows instead of replaying r rounds of lineage. The
# per-round driver reads are one merge row + one total — the bounded
# kmeans-trainer pattern, never corpus rows. A production tokenizer
# trainer runs the same loop longer on a sampled corpus; rounds scale
# the number of passes, not the shuffle width.
# ---------------------------------------------------------------------------

_BPE_LEARN_ROUNDS = 4


def _bpe_learn_oracle(rounds: int) -> str:
    """Generated unrolled-CTE oracle (the MMR discipline): round r has
    pair-count, argmax, apply, and total CTEs; the final SELECT unions
    the merge table with counts cast to BIGINT."""
    parts = [
        """
tok AS (
  SELECT token FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
  ) WHERE LENGTH(token) >= 2
),
w0 AS (
  SELECT ' ' || ARRAY_TO_STRING(regexp_split_to_array(token, ''), ' ') || ' ' AS w
  FROM tok
),
t0 AS (SELECT SUM(LEN(STRING_SPLIT(TRIM(w), ' '))) AS tot FROM w0)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, COUNT(*) AS n
  FROM (SELECT STRING_SPLIT(TRIM(w), ' ') AS s FROM w{r - 1}),
       UNNEST(GENERATE_SERIES(1, LEN(s) - 1)) AS g(i)
  GROUP BY 1, 2
),
m{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1),
w{r} AS (
  SELECT REPLACE(REPLACE(w, ' ' || m.a || ' ' || m.b || ' ',
                            ' ' || m.a || m.b || ' '),
                 ' ' || m.a || ' ' || m.b || ' ',
                 ' ' || m.a || m.b || ' ') AS w
  FROM w{r - 1} CROSS JOIN m{r} m
),
t{r} AS (SELECT SUM(LEN(STRING_SPLIT(TRIM(w), ' '))) AS tot FROM w{r})"""
        )
    selects = [
        f"""
SELECT {r} AS round, m{r}.a AS pair_a, m{r}.b AS pair_b,
       CAST(m{r}.n AS BIGINT) AS pair_count,
       CAST(t{r - 1}.tot - t{r}.tot AS BIGINT) AS n_applied
FROM m{r}, t{r - 1}, t{r}"""
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",".join(parts) + "\nUNION ALL".join(selects)


def _bpe_working_corpus(docs: DataFrame) -> DataFrame:
    """Token frame → single-space symbol encoding (' a b c ' with
    bounding spaces), checkpointed — the working corpus both BPE
    learners iterate on and release.

    The spread (guide §2.5 input skew) matters here more than anywhere:
    the checkpoint PINS the partitioning for every downstream learn
    round, so a single-row-group scan (or a post-LIMIT sample, always
    1 partition) would serialize all R apply+pair-count corpus passes
    on one core. At scale the scan already carries ≥ defaultParallelism
    partitions and the spread is a no-op."""
    from ..operators.cache import checkpoint_owned
    from ..operators.skew import spread_for_compute

    tok = (
        spread_for_compute(docs)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") >= 2)
    )
    return checkpoint_owned(
        tok.select(
            F.concat(
                F.lit(" "), F.array_join(F.split("token", ""), " "), F.lit(" ")
            ).alias("w")
        )
    )


def _bpe_apply_expr(col, a: str, b: str):
    """The cross-engine-exact merge application: TWO passes of literal
    leftmost-nonoverlapping replace (see the block comment above)."""
    pat = F.lit(f" {a} {b} ")
    rep = F.lit(f" {a}{b} ")
    return F.replace(F.replace(col, pat, rep), pat, rep)


def _bpe_top_pair(frame: DataFrame):
    """(top_a, top_b, top_n) of the working corpus in ONE corpus pass /
    ONE collect, or None when no pairs remain — the sampled learner's
    slice of ``bpe_learn_merges._round_stats`` (r15): the argmax
    tie-break (n desc, a asc, b asc) IS ``min(struct(-n, a, b))`` over
    exact longs and lexicographic strings, so the per-round pair-count
    checkpoint + orderBy-limit-1 collect pair collapses to one
    aggregate collect."""
    row = (
        frame.select(F.split(F.trim(F.col("w")), " ").alias("s"))
        # a fully-merged token (one symbol) has no pairs; without this
        # filter Spark's sequence(0, size-2) DESCENDS for size=1 and
        # s[1] faults (DuckDB's GENERATE_SERIES(1, 0) is empty, so only
        # this side needs the guard)
        .where(F.size("s") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2), "
                    "i -> struct(s[i] AS a, s[i + 1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .agg(
            F.min(F.struct((-F.col("n")).alias("nn"), "a", "b")).alias("top")
        )
        .collect()[0]
    )
    if row["top"] is None:
        return None
    return row["top"]["a"], row["top"]["b"], -int(row["top"]["nn"])


@register(
    "bpe_learn_merges",
    oracle=_bpe_learn_oracle(_BPE_LEARN_ROUNDS),
    doc=(
        "[beyond-ref] BPE vocabulary induction: 4 unrolled merge-learning "
        "rounds (global pair count -> argmax merge -> corpus-wide apply), "
        "emitting the merge table with per-round pair counts and applied "
        "merges — the iterative tokenizer-training loop bpe_pair_counts "
        "counts one round of (SURVEY §2.10 text-analysis tier)"
    ),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import checkpoint_owned, release

    docs = load_table(spark, sf_dir, "documents")
    w = _bpe_working_corpus(docs)

    def _round_stats(frame: DataFrame):
        """(total_pairs, top_a, top_b, top_n) in ONE corpus pass / ONE
        collect (r15): the argmax tie-break (n desc, a asc, b asc) IS
        ``min(struct(-n, a, b))`` — exact longs, lexicographic strings
        — so the r14 form's separate orderBy-limit-1 job, sum job, and
        the pair-count checkpoint between them (its only reason was
        those two consumers) all collapse into this aggregate. 2
        actions per learned round instead of 4, same corpus passes."""
        pairs = (
            frame.select(F.split(F.trim(F.col("w")), " ").alias("s"))
            # sequence(0, size-2) DESCENDS for single-symbol rows, so
            # s[1] would fault without the size guard (see _bpe_top_pair)
            .where(F.size("s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2), "
                        "i -> struct(s[i] AS a, s[i + 1] AS b))"
                    )
                ).alias("p")
            )
            .select("p.a", "p.b")
        )
        row = (
            pairs.groupBy("a", "b")
            .agg(F.count("*").alias("n"))
            .agg(
                F.sum("n").alias("t"),
                F.min(F.struct((-F.col("n")).alias("nn"), "a", "b")).alias(
                    "top"
                ),
            )
            .collect()[0]
        )
        if row["top"] is None:
            return 0, None, None, 0
        return (
            int(row["t"]),
            row["top"]["a"],
            row["top"]["b"],
            -int(row["top"]["nn"]),
        )

    prev_pairs, top_a, top_b, top_n = _round_stats(w)
    merges: list[tuple] = []
    for r in range(1, _BPE_LEARN_ROUNDS + 1):
        if top_a is None:
            # pair-exhausted corpus (every token fully merged): stop —
            # the oracle's remaining m{r} CTEs are empty and contribute
            # no rows, so both engines emit only the learned rounds
            break
        merge_a, merge_b, merge_n = top_a, top_b, top_n
        # (r16: a NON-eager checkpoint here — fusing the apply into the
        # next stats job, 2 actions/round → 1 — was A/B-measured and
        # LOST, 2.86 → 3.17 s min-of-side: the fused stats job pays the
        # apply+store inline on its critical path and the narrow apply
        # stage loses its independent 32-task run. Eager stays.)
        applied = checkpoint_owned(
            w.select(_bpe_apply_expr(F.col("w"), merge_a, merge_b).alias("w"))
        )
        release(w)
        w = applied
        tot_pairs, top_a, top_b, top_n = _round_stats(w)
        # Σ size = Σ pairs + n_rows with n_rows constant, so the
        # symbol-count delta (merges applied) is the PAIR-count delta
        merges.append(
            (r, merge_a, merge_b, int(merge_n), int(prev_pairs - tot_pairs))
        )
        prev_pairs = tot_pairs
    release(w)
    return spark.createDataFrame(
        merges,
        "round int, pair_a string, pair_b string, "
        "pair_count bigint, n_applied bigint",
    )


# ---------------------------------------------------------------------------
# BPE merge learning, SAMPLED (r12, VERDICT r11 #3/#4 of the next-round
# list: "give BPE a scale story") — the production split the kmeans
# trainer already models (fit on a bounded deterministic sample, apply
# distributed):
#
# - LEARN on the _BPE_SAMPLE_ROWS docs with the smallest md5(doc_id)
#   (an ordered take — deterministic, engine-portable, and BOUNDED: at
#   100 TB the learn loop's per-round pair count runs over a CONSTANT
#   ~2k-doc working set, so R rounds cost O(R · sample), not
#   O(R · corpus)).
# - APPLY the learned merge table to the FULL corpus in ONE narrow
#   pass: the R merges chain as nested two-pass replaces inside a
#   single projection (per-round n_applied totals fall out of the same
#   pass as R+1 symbol-count sums) — vs the unsampled learner's R
#   corpus rewrites.
#
# The 4-round unsampled `bpe_learn_merges` stays registered as the
# correctness audit of the learn loop itself (identical loop, corpus =
# sample). For PRODUCTION merge depth the chained-expression apply caps
# out (expression/codegen depth); the built scale path is
# `bpe_apply_production` below (r13, VERDICT r12 #5): the merge table
# rides an Arrow mapInPandas closure, so apply cost is independent of
# R — measured flat at R=256 vs R=4 in BPE_DEPTH_r13.json.
# ---------------------------------------------------------------------------

_BPE_SAMPLE_ROWS = 2048


def _bpe_sampled_oracle(rounds: int) -> str:
    """Generated unrolled-CTE oracle: the learn chain (p/m/w CTEs) runs
    on the md5-ordered bounded sample; the apply chain (f/g CTEs)
    replays the learned merges over the FULL corpus for the n_applied
    totals."""
    sym = (
        "SELECT ' ' || ARRAY_TO_STRING(regexp_split_to_array(token, ''), ' ')"
        " || ' ' AS w"
    )
    parts = [
        f"""
sdocs AS (
  SELECT text FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {_BPE_SAMPLE_ROWS}
),
tok AS (
  SELECT token FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM sdocs
  ) WHERE LENGTH(token) >= 2
),
w0 AS ({sym} FROM tok),
ftok AS (
  SELECT token FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
  ) WHERE LENGTH(token) >= 2
),
f0 AS ({sym} FROM ftok),
g0 AS (SELECT SUM(LEN(STRING_SPLIT(TRIM(w), ' '))) AS tot FROM f0)"""
    ]
    rep = (
        "REPLACE(REPLACE(w, ' ' || m.a || ' ' || m.b || ' ',"
        " ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ',"
        " ' ' || m.a || m.b || ' ')"
    )
    for r in range(1, rounds + 1):
        parts.append(
            f"""
p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, COUNT(*) AS n
  FROM (SELECT STRING_SPLIT(TRIM(w), ' ') AS s FROM w{r - 1}),
       UNNEST(GENERATE_SERIES(1, LEN(s) - 1)) AS g(i)
  GROUP BY 1, 2
),
m{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1),
w{r} AS (SELECT {rep} AS w FROM w{r - 1} CROSS JOIN m{r} m),
f{r} AS (SELECT {rep} AS w FROM f{r - 1} CROSS JOIN m{r} m),
g{r} AS (SELECT SUM(LEN(STRING_SPLIT(TRIM(w), ' '))) AS tot FROM f{r})"""
        )
    selects = [
        f"""
SELECT {r} AS round, m{r}.a AS pair_a, m{r}.b AS pair_b,
       CAST(m{r}.n AS BIGINT) AS pair_count,
       CAST(g{r - 1}.tot - g{r}.tot AS BIGINT) AS n_applied
FROM m{r}, g{r - 1}, g{r}"""
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",".join(parts) + "\nUNION ALL".join(selects)


@register(
    "bpe_learn_merges_sampled",
    oracle=_bpe_sampled_oracle(_BPE_LEARN_ROUNDS),
    doc=(
        "[beyond-ref] BPE vocabulary induction at production shape: "
        "merges learned on a bounded deterministic sample (smallest-"
        "md5 ordered take), then applied to the FULL corpus in one "
        "narrow chained-replace pass with per-round application counts "
        "— the learn-on-sample / apply-distributed split "
        "(SURVEY §2.10 text-analysis tier)"
    ),
)
def bpe_learn_merges_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import checkpoint_owned, release

    docs = load_table(spark, sf_dir, "documents")
    sliced = docs.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).limit(_BPE_SAMPLE_ROWS)
    w = _bpe_working_corpus(sliced.select("text"))
    merges: list[tuple] = []
    for r in range(1, _BPE_LEARN_ROUNDS + 1):
        # TWO actions per learned round instead of three (r16, VERDICT
        # r15 #6): the argmax collapses to a single aggregate collect
        # (_bpe_top_pair — the per-round pair-count checkpoint's only
        # consumer here was this argmax, so it was pure overhead).
        # (Fusing the apply into the next stats job via a NON-eager
        # checkpoint — 1 action/round — was A/B-measured and LOST on
        # both learners; eager apply stays, see bpe_learn_merges.)
        top = _bpe_top_pair(w)
        if top is None:
            break
        top_a, top_b, top_n = top
        merges.append((r, top_a, top_b, int(top_n)))
        if r < _BPE_LEARN_ROUNDS:
            applied = checkpoint_owned(
                w.select(_bpe_apply_expr(F.col("w"), top_a, top_b).alias("w"))
            )
            release(w)
            w = applied
    release(w)
    if not merges:
        return spark.createDataFrame(
            [],
            "round int, pair_a string, pair_b string, "
            "pair_count bigint, n_applied bigint",
        )
    # distributed APPLY: one narrow pass over the full corpus — the R
    # merges chain as nested expressions; the R+1 symbol totals (hence
    # every per-round n_applied) come out of the same single job
    full = _bpe_working_corpus(docs)
    expr = F.col("w")
    sizes = [F.size(F.split(F.trim(expr), " ")).cast("long").alias("t0")]
    for i, (_, a, b, _n) in enumerate(merges, start=1):
        expr = _bpe_apply_expr(expr, a, b)
        sizes.append(F.size(F.split(F.trim(expr), " ")).cast("long").alias(f"t{i}"))
    tot = (
        full.select(*sizes)
        .agg(*[F.sum(f"t{i}").alias(f"t{i}") for i in range(len(sizes))])
        .collect()[0]
    )
    release(full)
    rows = [
        (r, a, b, n, int(tot[f"t{i - 1}"] - tot[f"t{i}"]))
        for i, (r, a, b, n) in enumerate(merges, start=1)
    ]
    return spark.createDataFrame(
        rows,
        "round int, pair_a string, pair_b string, "
        "pair_count bigint, n_applied bigint",
    )


@register(
    "bpe_apply_production",
    oracle=_bpe_sampled_oracle(_BPE_LEARN_ROUNDS),
    doc=(
        "[beyond-ref] BPE at production DEPTH (VERDICT r12 #5): merge "
        "table learned driver-side over the bounded md5-ordered sample "
        "(constant work at any corpus size), applied to the FULL corpus "
        "in ONE Arrow mapInPandas pass whose scan count is independent "
        "of the merge count — the 32k-vocabulary serving shape, "
        "hash-checked here at the oracle-expressible R=4 "
        "(SURVEY §2.10 text-analysis tier)"
    ),
)
def bpe_apply_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-depth BPE apply as a hard differential: same
    sample, same learned merges, same per-round n_applied totals as
    ``bpe_learn_merges_sampled`` (the SAME generated DuckDB oracle
    checks both), but the learn runs driver-side in pure Python over
    the bounded sample (zero Spark jobs per round — the constant
    working set makes per-round distribution pure overhead) and the
    apply is ``operators/bpe.apply_merges_totals``: one Arrow pass
    whose cost does NOT grow with merge count (the merge table rides
    the closure; per-token work memoizes on the batch vocabulary).
    At R=4 this hash-checks the Arrow path against the SQL replay;
    ``tools/bpe_depth_measure.py`` measures the same operator at
    R≥256, where the chained-expression form stops being buildable.

    Scale shape: one bounded 2048-row sample collect, one shuffle-free
    corpus pass, one R+1-column sum — no per-merge corpus rewrite at
    ANY vocabulary size."""
    from ..operators.bpe import apply_merges_totals, learn_merges_local

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(_BPE_SAMPLE_ROWS)
        .select("text")
        .collect()
    )
    merges = learn_merges_local([r["text"] for r in sample], _BPE_LEARN_ROUNDS)
    if not merges:
        return spark.createDataFrame(
            [],
            "round int, pair_a string, pair_b string, "
            "pair_count bigint, n_applied bigint",
        )
    per_doc = apply_merges_totals(docs, [(a, b) for _, a, b, _ in merges])
    tot = per_doc.agg(
        *[F.sum(f"t{i}").alias(f"t{i}") for i in range(len(merges) + 1)]
    ).collect()[0]
    rows = [
        (r, a, b, n, int(tot[f"t{i - 1}"] - tot[f"t{i}"]))
        for i, (r, a, b, n) in enumerate(merges, start=1)
    ]
    return spark.createDataFrame(
        rows,
        "round int, pair_a string, pair_b string, "
        "pair_count bigint, n_applied bigint",
    )
