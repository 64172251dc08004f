"""[beyond-ref] Deduplication operators at 100 TB design point.

Four tiers, all pure DataFrame plans (no Python in the hot path):

- exact: content-hash groupBy (see plans/star_queries.dedup_exact) —
  one shuffle on a 128-bit key.
- MinHash + LSH: shingle → k seeded MinHashes → b bands → one group-by
  per bucket. Candidate pairs are generated ONLY within LSH buckets, so
  the pair space is bucket-local — never an O(n²) cross join. This is the
  canonical near-dup path for web-scale corpora (cf. Broder '97
  resemblance sketches; Spark's own ml.feature.MinHashLSH uses the
  same band trick).
- SimHash: per-token hash bits vote; documents with equal fingerprints
  are near-dup groups — a single groupBy, the cheapest fuzzy tier.
- embedding cosine: see operators/similarity.py.

Hash portability: every hash is md5-based — ``conv(substr(md5(x),1,12),
16, 10)`` gives a 48-bit integer any ANSI engine can reproduce (the
DuckDB oracles use ``('0x' || substr(md5(x),1,12))::BIGINT``), so the
driver's differential check covers these operators too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HEX_LEN = 12  # 48-bit hashes: plenty for min-ranking, no bigint overflow


def _hash48(col):
    """Portable 48-bit hash of a string column (engine-reproducible)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, HEX_LEN), 16, 10).cast(
        "long"
    )


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, token (non-empty, position order irrelevant)."""
    return docs.select(
        "doc_id", F.explode(F.split(text_col, " ")).alias("token")
    ).where(F.col("token") != "")


def _shingle_array(n: int):
    """The distinct word n-grams of the ``toks`` array column, as one
    array expression (see the PLAN TRAP in :func:`shingles`)."""
    idx = F.sequence(F.lit(0), F.size("toks") - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(n)]
    )
    return F.array_distinct(F.transform(idx, gram))


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """doc_id → distinct word n-gram shingles, fully narrow.

    Distinctness is per (doc_id, shingle) — exactly within-doc — so
    ``array_distinct`` before the explode replaces the corpus-wide
    ``.distinct()`` shuffle the r1-r3 form paid: the whole stage is
    zero-shuffle.

    PLAN TRAP (measured 6×): the array expression MUST be fused into
    the explode's select. If the array is aliased in one projection and
    exploded in the next, ``InferFiltersFromGenerate`` + predicate
    pushdown inline the whole shingle expression into a ``size(...) >
    0`` filter below the alias, re-running parse+transform+distinct per
    row a second time. Keep the Generate's input as the full expression
    and the rule leaves it alone.
    """
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    from .skew import spread_for_compute

    return (
        spread_for_compute(docs)
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))
    )


def _hash_pair(shingle_col):
    """ONE md5 per shingle provides two independent 48-bit halves
    (hex chars 1-12 and 13-24) — the double-hashing base; no modular
    arithmetic (i·h2 < 2^52, sums stay well under int64 and are
    engine-portable)."""
    md5h = F.md5(shingle_col.cast("binary"))
    return F.struct(
        F.conv(F.substring(md5h, 1, HEX_LEN), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5h, HEX_LEN + 1, HEX_LEN), 16, 10)
        .cast("long")
        .alias("h2"),
    )


def minhash_signatures(shingled: DataFrame, k: int = 16) -> DataFrame:
    """doc_id, h0..h{k-1}: MinHash signature via double hashing over the
    exploded (doc_id, shingle) form.

    The groupBy(doc_id) runs inside whole-stage codegen with map-side
    partial aggregation, and a doc's exploded shingles stay within one
    partition — so the shuffle carries ONE ~136-byte row per doc, not
    the shingle table. (An all-narrow ``array_min``-over-HOF variant
    was measured 4× SLOWER here: per-family array traversals are
    interpreted, losing codegen — the agg form is the right shape both
    locally and at 100 TB.)
    """
    with_h = shingled.select("doc_id", _hash_pair(F.col("shingle")).alias("_h"))
    aggs = [
        F.min(F.col("_h.h1") + i * F.col("_h.h2")).alias(f"h{i}") for i in range(k)
    ]
    return with_h.groupBy("doc_id").agg(*aggs)


def _bucket_pairs(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, for every pair sharing an LSH
    bucket — one row per shared band, so callers dedup.

    Bands are unpivoted map-side (stack) and hashed; ONE exchange on
    the bucket key (band_id, band_key) then serves the cap count, the
    per-bucket member list and the pair generation: the pairs of a
    bucket are produced in-row by higher-order functions and exploded,
    so the signature table is read exactly once — no self-join, no
    hot-bucket aggregate, no broadcast anti-join.

    ``max_bucket_size`` is the 100 TB guard: a bucket of size s emits
    s² pairs, so one boilerplate bucket with 10⁶ docs would emit 10¹²
    pairs. Buckets larger than the cap are dropped entirely BEFORE any
    member list is collected (an over-capacity bucket carries no
    near-dup *signal* — it is boilerplate by construction — and its
    members keep their chance to pair through their other bands). The
    size is a window count over the same (band_id, band_key)
    partitioning the group-by reuses, so the cap adds no exchange and
    a collected list never holds more than ``max_bucket_size`` ids.

    ``new_ids`` (a 1-column doc_id frame) keeps only pairs with at
    least one new side; buckets holding no new doc emit nothing. The
    cap still counts the FULL bucket population, so an incremental run
    drops exactly the buckets the full run drops.
    """
    if new_ids is None:
        flagged = signatures.withColumn("_new", F.lit(True))
    else:
        flag = new_ids.select("doc_id", F.lit(True).alias("_new")).distinct()
        flagged = signatures.join(flag, "doc_id", "left")
    stack_args = []
    for b in range(bands):
        cols = ", ".join(f"h{b * rows_per_band + j}" for j in range(rows_per_band))
        stack_args.append(f"{b}, md5(concat_ws(',', {cols}))")
    banded = flagged.selectExpr(
        "doc_id",
        "coalesce(_new, false) AS _new",
        f"stack({bands}, {', '.join(stack_args)}) AS (band_id, band_key)",
    )
    bucket = ["band_id", "band_key"]
    if max_bucket_size is not None:
        size = F.count("*").over(Window.partitionBy(*bucket))
        banded = banded.withColumn("_sz", size).where(F.col("_sz") <= max_bucket_size)
    m = F.col("m")
    pairs = F.flatten(
        F.transform(
            m,
            lambda x: F.transform(
                F.filter(
                    m,
                    lambda y: (y["doc_id"] > x["doc_id"]) & (x["_new"] | y["_new"]),
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"), y["doc_id"].alias("doc_b")
                ),
            ),
        )
    )
    return (
        banded.groupBy(*bucket)
        .agg(F.collect_list(F.struct("doc_id", "_new")).alias("m"))
        .where(F.exists(m, lambda d: d["_new"]))
        .select(F.inline(pairs))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs sharing ≥1 LSH band;
    ``max_bucket_size`` caps bucket fan-out (see ``_bucket_pairs``)."""
    return _bucket_pairs(signatures, bands, rows_per_band, max_bucket_size).distinct()


def lsh_incremental_candidates(
    signatures: DataFrame,
    new_ids: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs touching at least one NEW doc — the
    daily-batch dedup shape: existing-vs-existing pairs (already
    resolved by previous runs) are never generated, and buckets without
    a new member emit nothing. The hot-bucket cap is evaluated on the
    FULL bucket population (identical semantics to the full run).
    ``new_ids`` is a 1-column (doc_id) frame; output pairs are
    doc_a < doc_b."""
    return _bucket_pairs(
        signatures, bands, rows_per_band, max_bucket_size, new_ids
    ).distinct()


def minhash_incremental_pairs(
    docs: DataFrame,
    is_new,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH near-dup: verified pairs touching at
    least one doc matching ``is_new`` (a boolean Column) — new-vs-new
    and new-vs-existing, never existing-vs-existing.

    Locally this recomputes every signature for oracle checkability;
    at 100 TB the existing side's signatures load from the signature
    store written by the previous run (they are just a table —
    ``minhash_signatures`` output through the S6 parquet sink) and
    only the batch is shingled, making the whole run
    O(batch + touched buckets). Same read-once plan as
    ``minhash_near_dup_pairs``."""
    sigs = minhash_signatures(shingles(docs, n=n), k=k)
    new_ids = docs.where(is_new).select("doc_id")
    cands = _bucket_pairs(sigs, bands, k // bands, max_bucket_size, new_ids)
    return verify_jaccard(cands, docs, threshold=threshold, n=n)


def verify_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (LSH prunes the rest),
    returned as a lazy plan: nothing runs until the caller's action. A
    caller that reads the result twice checkpoints it itself
    (``corpus.clean_decisions``).

    Per-document shape, every input read once: each candidate pair
    explodes to its two ends, ``groupBy(doc_id)`` gathers the distinct
    pairs each doc is in, ONE join with ``docs`` fetches only the
    candidate docs' text (AQE broadcasts the small per-doc side), each
    doc's shingle array is parsed once and rides back out to its pairs,
    and ``groupBy(doc_a, doc_b)`` brings a pair's two arrays together
    for the in-row ``array_intersect``. That final group-by also
    dedups pairs that share several bands, so ``candidates`` may hold
    duplicates. A pair whose end has no shingles (fewer than ``n``
    tokens) or no doc is dropped, as an inner join would.
    """
    per_doc = (
        candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
            F.struct("doc_a", "doc_b").alias("pr"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pr").alias("prs"))
    )
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    ends = (
        docs.join(per_doc, "doc_id")
        .select("doc_id", "prs", toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", "prs", _shingle_array(n).alias("sh"))
        .select("doc_id", "sh", F.inline("prs"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        ends.groupBy("doc_a", "doc_b")
        .agg(
            # doc_a < doc_b, so the smaller end's array is doc_a's
            F.min_by("sh", "doc_id").alias("_sha"),
            F.max_by("sh", "doc_id").alias("_shb"),
            F.count("*").alias("_ends"),
        )
        .where(F.col("_ends") == 2)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("n_common"),
            F.size("_sha").cast("long").alias("n_a"),
            F.size("_shb").cast("long").alias("n_b"),
        )
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidates → exact verify, as ONE lazy plan.
    ``max_bucket_size`` caps LSH bucket fan-out (see ``_bucket_pairs``).

    Read-once shape: every intermediate has exactly one consumer, so
    nothing is cached or checkpointed between the steps. The signature
    table feeds one bucket exchange (cap count, member list and in-row
    pair generation together), the candidate pairs feed one per-doc
    group-by, and each candidate doc's shingle array is parsed once
    (``verify_jaccard``). The earlier shape read the signatures four
    times and the candidates three times, so it needed an operator
    cache under the one and an eager checkpoint under the other. On a
    4-core host at sf0.01 that plan ran 21 Spark jobs and this one runs
    8, and the perfbench ``query_mix`` pass (one such query among seven)
    went from 4.25 to 3.42 s of operation CPU (medians of 6 alternating
    pairs). Constructing it submits no job and leaves no block-manager
    residue: the result is returned unmaterialized (an eager checkpoint
    of it took 1.51 of the 2.04 s construction of
    ``dedup_minhash_lsh_pairs`` at sf0.01 and saved nothing, since
    every caller but one reads it once).

    Shuffle budget (the 100 TB shape): shingling is narrow
    (array_distinct replaces the r1-r3 corpus-wide distinct shuffle of
    full shingle strings), the signature agg shuffles one row per doc
    (map-side combine), the bucket exchange shuffles one row per
    (doc, band), and verify shingles candidate docs only. Do NOT
    checkpoint the shingle table — it is corpus-sized (measured OOM at
    default heap)."""
    sigs = minhash_signatures(shingles(docs, n=n), k=k)
    cands = _bucket_pairs(sigs, bands, k // bands, max_bucket_size)
    return verify_jaccard(cands, docs, threshold=threshold, n=n)


def _shingle_pair_counts(
    docs: DataFrame,
    n: int,
    block_col: str,
    max_df: int | None,
    text_col: str,
):
    """Shared pair-production pipeline for the shingle-overlap dedup
    family (Jaccard + containment): per-doc-distinct n-gram shingles,
    DF-capped within each block, self-joined block-locally →
    ((doc_a, doc_b, n_common), per-doc counts, the persisted shingle
    table the caller must release once its result is materialized)."""
    from .skew import spread_for_compute

    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    # shingle parse/explode is the scan stage's per-row work — spread it
    # (guide §2.5; same as shingles()/winnowing_fingerprints)
    with_toks = spread_for_compute(docs).select(
        "doc_id", block_col, toks.alias("toks")
    ).where(F.size("toks") >= n)
    # distinctness is per (doc_id, shingle): array_distinct before the
    # explode replaces the corpus-wide .distinct() shuffle — narrow
    shingled = with_toks.select(
        "doc_id",
        block_col,
        F.explode(_shingle_array(n)).alias("shingle"),
    )
    if max_df is not None:
        hot = (
            shingled.groupBy(block_col, "shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select(block_col, "shingle")
        )
        shingled = shingled.join(F.broadcast(hot), [block_col, "shingle"], "left_anti")
    # The capped shingle table feeds three consumers (counts + both join
    # sides); a disk-backed persist avoids re-running the explode chain
    # per consumer. MEMORY_AND_DISK spills rather than OOMs; at corpus
    # sizes where even spill is wrong, stage this table to storage and
    # read it back (the standard petabyte-scale pipeline break). The
    # persist is operator-owned — the caller releases it.
    from pyspark import StorageLevel

    shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    counts = shingled.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = shingled.alias("a"), shingled.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return pairs, counts, shingled


def ngram_jaccard(
    docs: DataFrame,
    n: int = 3,
    block_col: str = "lang",
    threshold: float = 0.2,
    max_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Pairwise n-gram Jaccard near-dup, blocked by ``block_col``.

    ``max_df`` drops shingles whose document frequency (within a block)
    exceeds the cap BEFORE the pair join — a boilerplate trigram in 10⁶
    docs would emit ~10¹² pairs on one join key while carrying no
    near-dup signal. Jaccard is then over the DF-filtered shingle space
    (numerator and denominator), the standard web-scale formulation.
    The hot-shingle list is tiny by construction → broadcast anti-join.
    """
    from .cache import checkpoint_owned, release

    pairs, counts, shingled = _shingle_pair_counts(docs, n, block_col, max_df, text_col)
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    out = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )
    try:
        return checkpoint_owned(out)
    finally:
        release(shingled)


def shingle_containment(
    docs: DataFrame,
    n: int = 3,
    block_col: str = "lang",
    threshold: float = 0.5,
    max_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC shingle overlap: containment(A in B) = |A∩B|/|A|.

    Catches what Jaccard structurally cannot — a short document quoted
    wholesale inside a long one has tiny Jaccard (the union is
    long-document-sized) but containment ≈ 1 for the short side. The
    standard quote/subset-inclusion dedup signal for training corpora.
    Emits the pair once with BOTH directions (containment_a = share of
    A's shingles found in B, containment_b symmetric); the gate keeps
    pairs where EITHER direction clears ``threshold``.

    Shares the DF-capped block-local pair pipeline (and its cache
    ownership) with :func:`ngram_jaccard`.
    """
    from .cache import checkpoint_owned, release

    pairs, counts, shingled = _shingle_pair_counts(docs, n, block_col, max_df, text_col)
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    cont_a = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    cont_b = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    out = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("containment_a", cont_a)
        .withColumn("containment_b", cont_b)
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select(
            "doc_a", "doc_b", "n_common", "n_a", "n_b",
            "containment_a", "containment_b",
        )
    )
    try:
        return checkpoint_owned(out)
    finally:
        release(shingled)


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """doc_id, simhash (int): per-token hash bits vote on each output
    bit; ties (sum==0) resolve to 0. Distinct tokens weight 1.

    One explode + one groupBy; the bit arithmetic is pure integer ops
    inside codegen. 16 bits keeps the demo oracle tractable; the same
    code runs at 64 bits.
    """
    toks = tokenize(docs).distinct()
    hv = _hash48(F.col("token"))
    votes = [
        F.sum(
            (F.shiftright(hv, j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_dup_groups(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Documents sharing a SimHash fingerprint, smallest id as keeper."""
    fp = simhash(docs, bits=bits)
    return (
        fp.groupBy("simhash")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("group_size") > 1)
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    tau_num: int = 9,
    tau_den: int = 10,
    broadcast_verify: bool = False,
) -> DataFrame:
    """Exact, COMPLETE token-set-Jaccard >= τ pairs via prefix
    filtering (All-Pairs/PPJoin family, Bayardo et al. WWW'07) — no DF
    cap, no candidate loss.

    Canonical token order = (global document frequency asc, token):
    any pair with J >= τ = tau_num/tau_den must share a token within
    each side's first |T| − ceil(τ|T|) + 1 tokens, so the candidate
    join runs only on those prefix tokens — the RAREST in the corpus,
    so fanout is small by construction. Verification carries each
    doc's sorted token array to the candidate row and intersects
    in-row (array_intersect), with the integer cross-multiplied
    threshold (tau_den + tau_num)·|A∩B| >= tau_num·(|A|+|B|) — exact,
    no float compare. Completeness is property-tested against brute
    force in tests/test_dedup_caps.py.

    Input: (doc_id, text). Output: (doc_a, doc_b, ints, sa, sb) with
    doc_a < doc_b — one row per qualifying pair.
    """
    tok = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .where(F.col("token") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    df = tok.groupBy("token").agg(F.count("*").alias("d"))
    w_rank = Window.partitionBy("doc_id").orderBy("d", "token")
    w_sz = Window.partitionBy("doc_id")
    r = (
        tok.join(df, "token")
        .withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("sz", F.count("*").over(w_sz))
    )
    ceil_tau_sz = (
        (tau_num * F.col("sz") + tau_den - 1) / tau_den
    ).cast("long")
    pref = r.where(F.col("rnk") <= F.col("sz") - ceil_tau_sz + 1).select(
        "doc_id", "token"
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arrs = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("token")).alias("ts"),
        F.count("*").alias("s"),
    )
    # per-doc arrays ride to each candidate row. The SCALE-SAFE default
    # is broadcast_verify=False: the verify joins run hash-partitioned
    # on the doc keys and AQE still chooses broadcast when the per-doc
    # array frame turns out small. broadcast_verify=True force-hints the
    # broadcast — right ONLY when the caller KNOWS the frame fits the
    # driver (the registered driver-scale query passes it explicitly);
    # defaulting to the hint kept the driver-OOM hazard as the default
    # behavior (ADVICE r9).
    _hint = F.broadcast if broadcast_verify else (lambda d: d)
    ints = F.size(F.array_intersect(F.col("ta_"), F.col("tb_"))).cast("long")
    # the verify's array_intersect is COMPUTE-dense but the candidate
    # table is byte-light, so AQE coalesces the distinct's output to
    # 1-2 tasks and the whole verify serializes there (measured r15:
    # 3 s on ONE task at sf0.1) — unconditional post-shuffle spread
    from .skew import spread_after_shuffle

    cand = spread_after_shuffle(cand)
    scored = (
        cand.join(
            _hint(
                arrs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("ts").alias("ta_"),
                    F.col("s").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            _hint(
                arrs.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("ts").alias("tb_"),
                    F.col("s").alias("sb"),
                )
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", ints.alias("ints"), "sa", "sb")
    )
    return scored.where(
        (tau_den + tau_num) * F.col("ints")
        >= tau_num * (F.col("sa") + F.col("sb"))
    )


def winnowing_fingerprints(
    docs: DataFrame, k: int = 16, w: int = 8
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS selection): hash every k-char window, keep the
    MIN hash of each window of w consecutive positions. GUARANTEE: two
    docs sharing any verbatim run of >= w + k − 1 chars share at least
    one fingerprint (property-tested in tests/test_dedup_caps.py).

    The hash is the first 15 md5 hex chars as int64 (< 2⁶⁰) so any SQL
    engine reproduces the identical MIN selection — which k-grams are
    kept is part of the semantics, not an implementation detail.

    Input: (doc_id, text). Output: distinct (doc_id, f) fingerprint
    incidence — all per-row array work before the final DISTINCT, no
    shuffle until then. Docs shorter than w + k − 1 chars emit nothing.
    """
    from .skew import spread_for_compute

    docs = spread_for_compute(docs)
    n = F.length("text")
    hs = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda p: F.conv(
            F.substring(F.md5(F.substring(F.col("text"), p, k)), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    base = docs.where(n >= k + w - 1).select("doc_id", hs.alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - F.lit(w - 1)),
            lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
        )
    )
    return base.select("doc_id", F.explode(fps).alias("f")).distinct()


def winnowing_pairs(
    docs: DataFrame,
    k: int = 16,
    w: int = 8,
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-verbatim pairs by shared winnowing fingerprints —
    the full MOSS candidate stage over :func:`winnowing_fingerprints`.

    GUARANTEE ladder: a shared verbatim run of >= w + k − 1 chars shares
    >= 1 fingerprint; winnowing's density bound (one selected position
    can cover at most w consecutive windows) makes a run of
    > k + 2w − 2 chars share >= 2, so ``min_shared=2`` keeps the
    guarantee for runs of >= k + 2w − 1 chars (31 at the 16/8 defaults)
    while suppressing single-fingerprint md5 coincidences.

    ``df_cap`` drops fingerprints present in more docs (boilerplate
    suppression AND the hot-key cap — declared semantics, same
    discipline as the MinHash band join), bounding the self-join at
    sum-of-df² over kept fingerprints — never O(docs²).

    Input: (doc_id, text). Output: (doc_a, doc_b, n_shared), doc_a <
    doc_b. Consumers: the registered ``winnowing_candidate_pairs``
    query and the ``verbatim_overlap`` tier of corpus.clean_decisions.
    """
    fp = winnowing_fingerprints(docs, k=k, w=w).localCheckpoint(eager=False)
    keep = (
        fp.groupBy("f")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= df_cap)
        .select("f")
    )
    fk = fp.join(keep, "f", "left_semi")
    a, b = fk.alias("a"), fk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
