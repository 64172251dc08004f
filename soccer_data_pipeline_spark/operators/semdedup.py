"""[beyond-ref] SemDeDup as a reusable operator (Abbas et al. 2023,
arXiv:2303.09540): cluster the embedding space with the deterministic
Lloyd primitive, find within-cluster pairs whose cosine similarity
exceeds a threshold, consolidate them into semantic-duplicate groups
via connected components, and KEEP the member farthest from its
cluster centroid (the paper's rule: the outlier carries the most
marginal information; the near-centroid copies are redundant).

Extracted from the registered ``semantic_dedup_semdedup`` differential
(plans/llm_queries.py) in r12 so the corpus build can consume the SAME
keeper/drop decisions as a ``drop_semantic`` reason (VERDICT r11 #2 —
the audit→action pattern of the r9 leakage and r10 contamination
closures). The registered query and the pipeline share this one code
path, so the driver hash covers both.

Scale shape (unchanged from the query): assignment is one in-row
projection against the k driver-held centers; the pair join is equi on
the learned cell, so pair work is Σ n_c² — bounded by the corpus-size
k ladder holding cluster size ~constant (the paper's discipline); CC
is the three-tier ``operators/graph.dup_clusters``; the keeper window
partitions by dup cluster (bounded groups), never globally. At 100 TB:
k ~ n/4096 cells, per-cell blocks of ~4096 rows — embarrassingly
parallel, no corpus-sized window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, dot
from .graph import dup_clusters
from .kmeans import GRID_Q, inrow_assign, quantize_vec, two_iter_lloyd_centers

# the established house near-dup band for this corpus family
# (embedding_near_dup provenance: near-uniform random 64-d, max pair
# cosine ~0.47 — 0.35 is the dup cut)
SEMDEDUP_TAU = 0.35


def semdedup_k(n: int) -> int:
    """Corpus-size k ladder: hold within-cell pair work ~linear by
    keeping cluster size ~n/k at a few hundred rows per rung —
    mirrored by a scalar subquery in the DuckDB oracles so both
    engines derive the SAME k from the data."""
    return 128 if n >= 16384 else 32 if n >= 8192 else 8


def semdedup_assign(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Two unrolled Lloyd iterations from the k smallest-id seeds →
    (id, cell, dist_q2) with the exact int64 grid distance to the
    final centroid. LocalCheckpointed: the assignment feeds BOTH sides
    of the pair self-join plus the keeper/audit joins — without
    materialization the whole Lloyd lineage re-executes ~3× (caught in
    the r11b review).

    Seeds are the k SMALLEST ids (a k-row ordered take) — on a dense
    0..n-1 corpus identical to the original ``vec_id < k`` form, and
    still exactly k seeds when the caller passes a FILTERED frame
    (the corpus-build path, where cleaning may have dropped low ids).

    Shape (r15): the trainer runs through ``two_iter_lloyd_centers``
    (two bounded collects — the k-row seed take and the ≤ k·dim
    centroid sums — with the first-iteration assignment fused in-row
    into the sums pass) and the final assignment is ONE narrow
    ``inrow_assign`` projection against the driver-held centers. The
    r14 broadcast-join + groupBy chain cost ~18 sequential jobs per
    call at sf0.1 (profiled: 6.1 s construction vs 0.8 s execution on
    the registered query); this is 3 jobs for bit-identical output
    (``inrow_assign`` is the one in-row argmin kernel, the same one
    ``DeterministicKMeans.with_cell`` runs with dense cids)."""
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
    )
    cent = two_iter_lloyd_centers(e, k)
    if not cent:
        return (
            e.select(
                "vec_id",
                F.lit(0).cast("long").alias("cell"),
                F.lit(0).cast("long").alias("dist_q2"),
            )
            .where(F.lit(False))
            .localCheckpoint(eager=True)
        )
    return (
        inrow_assign(e, cent, dist_col="dist_q2")
        .select("vec_id", "cell", "dist_q2")
        .localCheckpoint(eager=True)
    )


def _with_norm(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        as_double_array(F.col(vec_col)).alias("v"),
    )
    return v.withColumn("n", F.sqrt(dot(F.col("v"), F.col("v"))))


def semdedup_pairs(
    assigned: DataFrame,
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_a, doc_b) within-cell pairs with 6-dp cosine ≥ tau — the
    cell-equi self-join whose cost the k ladder bounds."""
    # the cell self-join broadcasts its build side, so the per-pair
    # interpreted cosine runs in the STREAM side's stage — off the
    # 1-partition assignment checkpoint it would serialize (guide §2.5;
    # the embedding_near_dup measurement: 3 s / 4 tasks → 0.6 s spread)
    from .skew import spread_for_compute

    m = spread_for_compute(
        assigned.join(_with_norm(emb, id_col, vec_col), "vec_id")
    )
    a, b = m.alias("a"), m.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cosine >= tau)
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
    )


def semdedup_members(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Full SemDeDup member frame: (vec_id, cell, dist_q2, cluster_id,
    cluster_size, is_keeper) — one row per semantic-dup-cluster MEMBER
    (singletons never appear). ``assigned`` lets a caller that already
    holds the checkpointed assignment reuse it — and then k is moot, so
    the ladder's count job is skipped entirely (ADVICE r12: resolving k
    unconditionally charged every ``semantic_actions`` caller a full
    count over the embeddings for an unused value)."""
    a2 = assigned if assigned is not None else semdedup_assign(
        emb,
        k if k is not None else semdedup_k(emb.count()),
        id_col=id_col,
        vec_col=vec_col,
    )
    pairs = semdedup_pairs(a2, emb, tau=tau, id_col=id_col, vec_col=vec_col)
    cc = dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size"
    )
    out = cc.join(a2, "vec_id")
    # SemDeDup keeper: the member FARTHEST from its centroid (exact
    # int64 dist_q2), ties to the smaller id; window partitions by dup
    # cluster — bounded groups, never a global window
    w = Window.partitionBy("cluster_id").orderBy(F.desc("dist_q2"), F.asc("vec_id"))
    return out.select(
        "vec_id", "cell", "dist_q2", "cluster_id", "cluster_size"
    ).withColumn("is_keeper", F.row_number().over(w) == F.lit(1))


def semantic_actions(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    audit: bool = False,
) -> DataFrame:
    """Per-vector SemDeDup ACTION ledger — the action stage the corpus
    build consumes (``run_corpus_build(embeddings=...)``): (vec_id,
    action) over EVERY input vector, action ∈ {keep, drop_semantic}
    (drop = a dup-cluster member that is not its cluster's keeper).

    ``audit=True`` appends a ``post_audit_clean`` column: the pair
    detection RE-RUN over the kept set under the SAME cell assignment
    finds zero pairs. Clean by construction when the keeper rule is
    correct (every pair lies within one CC cluster; each cluster keeps
    exactly one member), so the column is a hash-checkable invariant
    of the implementation, not of the data. Scope: the guarantee is
    under the same assignment — REclustering the reduced corpus from
    scratch may learn different cells and surface different pairs.
    """
    a2 = semdedup_assign(
        emb, semdedup_k(emb.count()), id_col=id_col, vec_col=vec_col
    )
    members = semdedup_members(
        emb, tau=tau, id_col=id_col, vec_col=vec_col, assigned=a2
    )
    drops = members.where(~F.col("is_keeper")).select("vec_id").withColumn(
        "_d", F.lit(True)
    )
    actions = (
        emb.select(F.col(id_col).alias("vec_id"))
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.coalesce(F.col("_d"), F.lit(False)), "drop_semantic")
            .otherwise("keep")
            .alias("action"),
        )
    )
    if not audit:
        return actions
    kept_assigned = a2.join(drops, "vec_id", "left_anti")
    audit_pairs = semdedup_pairs(
        kept_assigned, emb, tau=tau, id_col=id_col, vec_col=vec_col
    )
    gate = audit_pairs.agg(
        (F.count("*") == 0).alias("post_audit_clean")
    )
    return actions.crossJoin(F.broadcast(gate))


def decide_incremental(m: DataFrame, new_ids: DataFrame, tau: float) -> DataFrame:
    """The incremental decision core, shared by the in-memory operator
    and the persisted-artifact streaming twin (semdedup_pipeline, r14).

    ``m`` is the combined flagged frame — one row per vector:
    (vec_id, cell, dist_q2, is_base, v, n) with ``v`` the double
    vector and ``n`` its norm; ``new_ids`` is a (vec_id) frame naming
    the batch. Pairs are within-cell with at least one NEW side
    (base×base was decided when the base was built); dup groups come
    from CC; the keeper rule prefers base members, then the
    farthest-from-centroid / smaller-id order. Emits (vec_id, action)
    for every row of ``new_ids``."""
    # stream-side spread before the broadcast cell self-join: the
    # per-pair interpreted cosine runs in this stage (see semdedup_pairs)
    from .skew import spread_for_compute

    a, b = spread_for_compute(m).alias("a"), m.alias("b")
    cosine = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            # incremental bound: at least one side is NEW — base×base
            # pairs were decided when the base was built
            & ((F.col("a.is_base") == 0) | (F.col("b.is_base") == 0)),
        )
        .where(cosine >= tau)
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
    )
    cc = dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    members = cc.join(
        m.select("vec_id", "cell", "dist_q2", "is_base"), "vec_id"
    )
    # base-wins keeper: any base member outranks every new member;
    # among new members the batch rule applies (farthest from centroid,
    # ties to the smaller id)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("is_base"), F.desc("dist_q2"), F.asc("vec_id")
    )
    drops = (
        members.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") > 1) & (F.col("is_base") == 0))
        .select("vec_id")
        .withColumn("_d", F.lit(True))
    )
    return (
        new_ids.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.coalesce(F.col("_d"), F.lit(False)), "drop_semantic")
            .otherwise("keep")
            .alias("action"),
        )
    )


def semdedup_incremental_actions(
    base: DataFrame,
    new: DataFrame,
    tau: float = SEMDEDUP_TAU,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup (r13) — the semantic tier's streaming twin
    of ``dedup.minhash_incremental_pairs`` / ``similarity.
    banded_incremental_candidates``: decide, for a NEW batch of
    embeddings arriving against an existing BASE corpus, which new
    vectors are semantically redundant — WITHOUT refitting the
    clustering or re-pairing the base against itself.

    The FAISS add-vs-train contract applied to SemDeDup:

    - seeds + two Lloyd iterations run on the BASE only (k from the
      base's corpus-size ladder — the quantizer is a base-corpus
      artifact, exactly like the ANN index pipeline's);
    - the new batch is ASSIGNED in-row against those centroids (one
      narrow broadcast-k pass, no refit);
    - pairs are within-cell and bounded to (new × base) ∪ (new × new)
      — never base × base, so incremental work tracks the BATCH size
      times cell density, not the corpus;
    - dup groups come from CC over those pairs; the keeper rule
      prefers BASE members (base-wins ingestion policy: the existing
      corpus is never retroactively dropped), then the established
      farthest-from-centroid / smaller-id order among new members.

    Emits (vec_id, action) for EVERY new vector — action ∈ {keep,
    drop_semantic}; base vectors are never emitted (their standing is
    immutable under this policy; a full re-run of the batch operator
    is the tool for re-deciding the whole corpus).

    Empty-base degenerate case (r14, ADVICE r13): with no base there
    are no seeds, so no centroids, no cells, no pairs — every new
    vector would silently pass as 'keep' even when the batch contains
    exact duplicates. Fall back to the BATCH operator on the new frame
    alone (``semantic_actions`` — same (vec_id, action) contract), so
    the first batch into an empty corpus is deduped against itself.
    """
    eb = base.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
    )
    # emptiness probe, not a count: the full count is only needed when
    # k comes from the corpus-size ladder (the ADVICE-r12 discipline —
    # a caller passing k explicitly must not pay a base scan for it)
    if k is None:
        base_n = eb.count()
        if base_n == 0:
            return semantic_actions(
                new, tau=tau, id_col=id_col, vec_col=vec_col
            )
        k = semdedup_k(base_n)
    elif not eb.head(1):
        return semantic_actions(new, tau=tau, id_col=id_col, vec_col=vec_col)
    en = new.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
    )
    # r15 shape: base-only trainer via two bounded collects, then ONE
    # in-row assignment over the flagged union — the r14 form's
    # broadcast-join + groupBy + join-back chain collapses to a single
    # narrow projection (is_base rides in-row, so the join-back for it
    # disappears too). Bit-identical (see semdedup_assign).
    cent = two_iter_lloyd_centers(eb, k)
    if not cent:
        # defensive twin of the empty-base guards above (ADVICE r15):
        # no centers means no cells, so the incremental path cannot
        # decide anything — fall back to the batch operator on the new
        # frame alone rather than crash in inrow_assign's executor UDF
        return semantic_actions(new, tau=tau, id_col=id_col, vec_col=vec_col)
    flagged = eb.withColumn("is_base", F.lit(1)).unionByName(
        en.withColumn("is_base", F.lit(0))
    )
    a2 = (
        inrow_assign(flagged, cent, dist_col="dist_q2")
        .select("vec_id", "cell", "dist_q2", "is_base")
        .localCheckpoint(eager=True)
    )

    emb_all = base.select(id_col, vec_col).unionByName(
        new.select(id_col, vec_col)
    )
    m = a2.join(_with_norm(emb_all, id_col, vec_col), "vec_id")
    return decide_incremental(
        m, new.select(F.col(id_col).alias("vec_id")), tau
    )
