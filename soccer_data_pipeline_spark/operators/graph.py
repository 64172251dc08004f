"""[beyond-ref] Connected components over near-dup pair graphs.

Pairwise near-dup output (LSH / n-gram / embedding pairs) is not yet a
dedup decision: A~B and B~C must collapse into ONE cluster {A,B,C} with
one keeper. That consolidation is connected components — the standard
last stage of web-scale dedup pipelines.

Three tiers, picked by the data, cheapest sufficient one wins:

1. **Driver union-find** below ``driver_cutoff`` edges: the pair graph
   is the dup REPORT, usually orders of magnitude smaller than the
   corpus; when it fits the driver comfortably (≤10⁶ edges ≈ 16 MB),
   distributed rounds are pure scheduling overhead. Same small-graph
   cutoff GraphFrames' connectedComponents applies.
2. **Iterative min-label propagation** (each node adopts the smallest
   label among itself and its neighbors) until fixpoint. Dup graphs
   have tiny diameters (clusters are near-cliques), so convergence
   takes a handful of rounds; the loop is over ROUNDS, not rows — each
   round is one distributed join + aggregate, and the only driver-side
   value is the per-round changed-label count (an iterative
   algorithm's convergence check, same as MLlib's KMeans).
3. **Large-star/small-star contraction** (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SoCC'14), auto-engaged when
   min-label exhausts ``max_iters`` with labels still moving: at
   extreme diameters min-label moves one hop per round, the star
   operations converge in O(log² n) rounds on ANY topology.

All three produce the identical labeling (min node id per component);
tests/test_graph_components.py property-checks them against each
other on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _star_contract(
    edges: DataFrame,
    max_rounds: int = 30,
    num_partitions: int | None = 8,
) -> DataFrame:
    """Alternating large-star / small-star contraction — the
    high-diameter path (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Input: (u, v) long edges; output
    (node, label) with label = component minimum.

    Min-label propagation moves labels ONE hop per round, so a chain
    graph needs O(diameter) rounds; the star operations rewire whole
    neighborhoods onto local minima each round and converge in
    O(log² n) rounds on any topology, at ~2 shuffles per round instead
    of 1. Dup-cluster graphs are near-cliques where min-label wins;
    chains/meshes (transitive fuzzy-match graphs) need this variant.

    Per round (both ops keep every edge pointing larger→smaller):
      large-star(u): strictly-larger neighbors re-attach to
        m = min(Γ(u) ∪ {u});
      small-star(u): u and its strictly-smaller neighbors re-attach to
        m = min(Γ⁻(u)).
    Fixpoint = star forest whose centers are the component minima.
    Convergence is detected by a (count, bit_xor(xxhash64)) signature
    going stable across rounds; because a signature collision is a
    stopping HEURISTIC, the labeling is then validated with one
    explicit min-label pass over the input graph before returning
    (changed labels there ⇒ raise, never silent corruption).

    Same lineage/block discipline as the min-label loop: per-round
    eager localCheckpoint, stale round released immediately.
    """
    from .cache import checkpoint_owned, release

    e0 = edges.select(F.col("u").cast("long"), F.col("v").cast("long")).where(
        F.col("u") != F.col("v")
    )
    if num_partitions is not None:
        e0 = e0.repartition(num_partitions, "u")
    e = checkpoint_owned(e0)
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: emit (v, m) for every neighbor v > u
        lmin = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            und.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the large-star output: emit (v, m) for every
        # neighbor v < u, plus (u, m) itself
        und2 = large.union(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        sm = und2.where(F.col("v") < F.col("u"))
        smin = sm.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            sm.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = checkpoint_owned(small)
        # bit_xor, not sum: xxhash64 spans the full 64-bit range and an
        # ANSI-mode SUM overflows; XOR is overflow-free and safe here
        # because the edge set is distinct (no pair cancels itself)
        row = new_e.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        sig = (row["n"], row["h"])
        release(e)
        e = new_e
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"_star_contract did not stabilize within max_rounds={max_rounds}; "
            "O(log^2 n) convergence implies a malformed edge table"
        )
    # star forest → labeling; self-loop/isolated inputs keep their own id
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    all_nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = (
        all_nodes.join(labels, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )
    # Eager checkpoint BEFORE releasing the round blocks: it severs the
    # result's lineage into both the contracted edge table and the
    # caller's input (which the fallback path releases on return) —
    # without it the returned frame would read truncated-lineage blocks
    # after the caller's cleanup. The labels blocks are the caller's.
    labels = checkpoint_owned(labels)
    release(e)
    # explicit fixpoint validation over the INPUT graph (see docstring)
    und_in = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nmin = (
        und_in.join(labels.withColumnRenamed("node", "u"), "u")
        .groupBy(F.col("v").alias("node"))
        .agg(F.min("label").alias("nlabel"))
    )
    moved = (
        labels.join(nmin, "node", "left")
        .where(F.coalesce("nlabel", "label") < F.col("label"))
        .count()
    )
    if moved != 0:
        raise RuntimeError(
            f"_star_contract produced a non-fixpoint labeling ({moved} labels "
            "still improvable) — signature collision or edge-rewrite bug"
        )
    return labels


def _union_find_labels(pairs) -> dict[int, int]:
    """Driver-side union-find: node → min node id of its component.
    Path-halving + min-root union; exact same labeling contract as the
    distributed paths."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 20,
    num_partitions: int | None = 8,
    fallback: str | None = "star",
    driver_cutoff: int | None = 1_000_000,
    emit: str = "labels",
) -> DataFrame:
    """→ (node, cluster_id) where cluster_id = min node id in the
    component. Every node appearing in ``edges`` is labeled.
    ``emit="clusters"`` appends (cluster_size, is_keeper) columns — on
    the driver union-find path the sizes come from the same pass as
    the labels (a Counter over the label dict), skipping the
    groupBy+self-join pair of scheduling rounds a tiny labels frame
    would otherwise pay (~0.4 s of the CC query at sf0.1); the
    distributed paths fall back to exactly that groupBy+join.

    ``num_partitions`` right-sizes the loop: the near-dup pair graph is
    orders of magnitude smaller than the corpus that produced it, so
    looping at corpus-scale partitioning pays ~rounds× the per-task
    overhead for empty partitions. Default 8 suits pair graphs up to
    ~10⁷ edges; pass None to inherit the input partitioning (huge
    graphs), where AQE coalesces each round's shuffles instead.

    ``driver_cutoff``: edge counts at or below it are solved by a
    driver-side union-find instead of the iterative loop — the same
    small-graph cutoff GraphFrames' connectedComponents applies
    (broadcastThreshold). Each distributed round costs several jobs of
    fixed scheduling overhead; on a pair graph of a few thousand edges
    the loop is pure overhead (measured ~1.8 s of a 5 s query at
    sf0.1), while 10⁶ edges collect to ~16 MB and union-find in
    milliseconds. The edge count is already materialized here (the
    cache boundary), so the decision is free; pass None to force the
    distributed path. Deterministically identical labeling either way
    (min id per component; property-tested against this exact
    reference in tests/test_graph_components.py).
    """
    spark = edges.sparkSession
    # Materialize the (tiny) directed edge list ONCE before mirroring it:
    # the union below consumes `e` twice, and without this boundary the
    # possibly-expensive upstream pipeline (e.g. the whole MinHash
    # shingle→band→verify chain) executes once per union branch.
    # (r15 note: a limit(cutoff+1).toPandas() single-pass probe was
    # A/B-measured here and LOST — CollectLimit executes its child in
    # scale-up rounds, re-running expensive un-materialized pair joins
    # like SemDeDup's per round: semantic_dedup_semdedup 4.2 → 5.3 s
    # min-of-side. The cache+count+drain pair of passes stays.)
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).cache()
    n_edges = e.count()
    if driver_cutoff is not None and n_edges <= driver_cutoff:
        # toPandas, NOT toLocalIterator: the edge table sits in ~32+
        # cache partitions and toLocalIterator schedules one sequential
        # job per partition (~40 ms each — measured 7 s of pure
        # scheduling on a 463-row graph); toPandas drains the cache in
        # one parallel job (Arrow-batched when enabled, ≤16 MB at the
        # default cutoff).
        pdf = e.toPandas()
        labels = _union_find_labels(zip(pdf["u"].tolist(), pdf["v"].tolist()))
        e.unpersist()
        if emit == "clusters":
            from collections import Counter

            sizes = Counter(labels.values())
            return spark.createDataFrame(
                sorted(
                    (int(n), int(c), int(sizes[c]), int(n) == int(c))
                    for n, c in labels.items()
                ),
                "node long, cluster_id long, cluster_size long, is_keeper boolean",
            )
        return spark.createDataFrame(
            sorted((int(n), int(c)) for n, c in labels.items()),
            "node long, cluster_id long",
        )
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if num_partitions is not None:
        und = und.repartition(num_partitions, "u")
    # Materialize the mirrored table BEFORE snapshotting `pre` below: a
    # lazy cache() only registers its RDD in getPersistentRDDs when the
    # first job touches it — which would be the eager labels
    # localCheckpoint, i.e. AFTER `pre` is captured. und's cache id would
    # then land in labels_blocks and the first round's unpersist would
    # silently drop it, recomputing the mirror+repartition twice per
    # round for the rest of the loop (ADVICE r4).
    und = und.cache()
    und.count()
    # localCheckpoint per round: truncates the logical lineage, which
    # otherwise grows exponentially across self-referencing rounds (the
    # plan tree alone OOMs the driver past ~10 rounds). Each round's
    # checkpoint supersedes the previous one and is released as soon as
    # the new one materializes — waiting for GC-driven cleanup lets
    # ~max_iters copies of the label table pile up in the block manager
    # (r3's measured suite slowdown).
    from .cache import checkpoint_owned, release

    labels = checkpoint_owned(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            und.join(labels, und["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        updated = checkpoint_owned(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).alias("_changed"),
            )
        )
        changed = updated.where(F.col("_changed")).count()
        # the new checkpoint is materialized (eager) and lineage-free, so
        # the previous round's blocks are garbage — drop them now (the
        # frame keeps its `_changed` column: it is the one that owns the
        # blocks, and every reader below selects its columns)
        release(labels)
        labels = updated
        if changed == 0:
            break
    if changed != 0 and fallback == "star":
        # Diameter exceeds max_iters: min-label is the wrong algorithm
        # for this topology. Hand off to the O(log² n) star contraction,
        # seeded with the partial labels — each (node → label) edge is a
        # multi-hop shortcut, so the rounds already paid are kept (the
        # seeded graph has identical components to the original: label
        # edges only ever connect nodes min-label already proved
        # connected).
        seed = e.union(
            labels.where(F.col("node") != F.col("label")).select(
                F.col("node").alias("u"), F.col("label").alias("v")
            )
        )
        out = _star_contract(seed, num_partitions=num_partitions)
        # _star_contract runs eagerly (per-round checkpoints + the
        # validation count), so the min-label leftovers are garbage now
        release(labels, und, e)
        cc = out.select("node", F.col("label").alias("cluster_id"))
        return _attach_sizes(cc) if emit == "clusters" else cc
    release(und, e)
    if changed != 0:
        release(labels)
        # Labels are still moving at iteration exhaustion: the component
        # diameter exceeds max_iters and the labeling is NOT a fixpoint.
        # Returning it silently would split clusters / emit multiple
        # keepers downstream (dup_clusters), i.e. silent data corruption.
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            f"({changed} labels still changing); pass fallback='star' for "
            "high-diameter graphs or raise max_iters"
        )
    cc = labels.select("node", F.col("label").alias("cluster_id"))
    return _attach_sizes(cc) if emit == "clusters" else cc


def _attach_sizes(cc: DataFrame) -> DataFrame:
    """(node, cluster_id) → + (cluster_size, is_keeper) via groupBy+join
    — the distributed form of the sizing the driver path computes
    in-pass; the labels frame is component-count-sized, so both sides
    of the join are tiny."""
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        "node",
        "cluster_id",
        "cluster_size",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


def dup_clusters(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """→ (doc_id, cluster_id, cluster_size, is_keeper): the dedup
    decision table. Keeper = smallest doc_id in the cluster (stable,
    engine-agnostic tie-break)."""
    return connected_components(edges, src=src, dst=dst, emit="clusters").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        "is_keeper",
    )


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """→ 1-row (n_edges, n_triangles) for an undirected simple graph
    given as ORIENTED edges (src < dst, deduplicated — the caller's
    contract; orientation counts each triangle exactly once and halves
    every join's build side).

    The classic three-way self-join: wedges a<b<c from e(a,b)⋈e(b,c),
    closed by e(a,c). The input should be small/sparse by construction
    (cap hot keys upstream — see plans/analytics_queries.py:
    _supplier_edges) and MATERIALIZED (cached or checkpointed): it is
    consumed four times here.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = e1.join(e2, F.col("e2.u") == F.col("e1.v")).join(
        e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v"))
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
        .select("n_edges", "n_triangles")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    teleport: float | None = None,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """→ (node, rank) after ``iters`` fixed power iterations over the
    UNDIRECTED graph given as oriented (src < dst) edges — mirrored
    internally, so every node has degree ≥ 1 and the dangling-mass
    term vanishes.

    Determinism contract (shared with the DuckDB oracle in
    plans/analytics_queries.py:pagerank_suppliers): each node's
    contribution sum folds in contributor order (sorted collect_list),
    so reruns and cross-engine replays are bit-identical.

    Scale shape: per iteration one edge⋈rank⋈degree join + one
    dst-keyed agg over the edge set. Static plan for fixed ``iters``;
    for diameter-scale iteration counts, add the per-round
    localCheckpoint discipline of :func:`connected_components`.

    ``teleport`` pins the (1−d)/N constant exactly: the Python
    expression ``1.0 - 0.85`` is 0.15000000000000002, a DIFFERENT
    double from the parsed literal ``0.15`` an oracle SQL text uses —
    callers that hash-compare against SQL must pass the same literal
    (default None computes ``1.0 - damping``).
    """
    tp = (1.0 - damping) if teleport is None else teleport
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("od"))
    n = deg.agg(F.count("*").alias("_n"))
    r = deg.crossJoin(F.broadcast(n)).select(
        "u", (F.lit(1.0) / F.col("_n").cast("double")).alias("r")
    )
    for _ in range(iters):
        contrib = (
            und.join(r, "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                F.col("u"),
                (F.col("r") / F.col("od").cast("double")).alias("c"),
            )
        )
        agg = contrib.groupBy("node").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("u", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        r = agg.crossJoin(F.broadcast(n)).select(
            F.col("node").alias("u"),
            (
                F.lit(tp) / F.col("_n").cast("double")
                + F.lit(damping) * F.col("s")
            ).alias("r"),
        )
    return r.select(F.col("u").alias("node"), "r")


def label_propagation(
    edges: DataFrame, iters: int = 2, src: str = "u", dst: str = "v"
) -> DataFrame:
    """→ (node, community): synchronous label propagation (Raghavan et
    al. 2007) for a FIXED number of iterations over the undirected
    (mirrored) edge set — the community tier of the graph family
    (connectivity: :func:`connected_components`; centrality:
    :func:`pagerank`; density: :func:`kcore_peel_profile`).

    Deterministic by construction: every node starts labeled with its
    own id; each round it adopts the most frequent neighbor label with
    ties broken by the SMALLEST label — realized as one integer
    ``max(struct(count, -label))`` per node, so there is no float
    anywhere and no window (the oracle's ROW_NUMBER argmax is the
    definitional twin). Fixed ``iters`` keeps the plan static and the
    semantics SQL-expressible; production convergence looping would
    add the per-round ``localCheckpoint`` discipline of
    :func:`connected_components`.

    Scale shape: per iteration one edge⋈label join (edge-keyed) and
    two hash aggs whose shuffles carry (node, label, count) — never
    more than the edge set. Input contract matches
    :func:`triangle_count`: oriented (src < dst) deduplicated edges,
    materialized by the caller.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lbl = und.select("u").distinct().select("u", F.col("u").alias("lbl"))
    for _ in range(iters):
        nb = (
            und.join(
                lbl.select(F.col("u").alias("v"), "lbl"), "v"
            )
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
        )
        lbl = (
            nb.groupBy("u")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"),
                        (-F.col("lbl")).alias("nl"),
                        F.col("lbl").alias("l"),
                    )
                ).alias("m")
            )
            .select("u", F.col("m.l").alias("lbl"))
        )
    return lbl.select(F.col("u").alias("node"), F.col("lbl").alias("community"))


def kcore_peel_profile(
    edges: DataFrame, k: int = 3, rounds: int = 3, src: str = "u", dst: str = "v"
) -> DataFrame:
    """→ (round, n_removed, n_remaining): how fast the graph erodes
    under k-core peeling — each round removes every node of degree < k
    (with all incident edges), for a FIXED number of rounds.

    Bounded-round by design so the plan is static and the semantics
    are oracle-expressible (full k-core = run to fixpoint; the last
    round's n_removed = 0 certifies convergence). n_remaining counts
    the distinct endpoints of the surviving edge set (isolated nodes
    are gone by definition).

    Scale shape: per round one degree agg + two anti-joins against the
    (shrinking) removal set. The removal side carries NO broadcast
    hint: it is usually tiny, but on a degenerate graph (most nodes
    below k in round 1) it is node-sized — a forced broadcast there is
    an OOM, so AQE picks broadcast-vs-shuffle from the measured size
    at runtime (the edge set is checkpointed each round, so the stats
    are real, not estimates) — VERDICT r6 #5. Input contract matches
    :func:`triangle_count`: oriented (src < dst) deduplicated edges,
    materialized by the caller.
    """
    from .cache import checkpoint_owned, release

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    profile = []
    for r in range(1, rounds + 1):
        deg = und.groupBy("u").agg(F.count("*").alias("_d"))
        removed = deg.where(F.col("_d") < k).select("u")
        # one checkpoint per round: materialize the survivor edge set
        # once, reuse it for this round's counts AND the next round's
        # peel. Both profile counts then fold in ONE action (r16: the
        # removed count re-aggregates the PREVIOUS round's in-memory
        # checkpoint and the remaining count scans the new one — a
        # 1-row crossJoin collect instead of two sequential count jobs,
        # 3 driver actions per round → 2).
        kept = checkpoint_owned(
            und.join(removed, "u", "left_anti").join(
                removed.select(F.col("u").alias("v")), "v", "left_anti"
            )
        )
        row = (
            removed.agg(F.count("*").alias("nr"))
            .crossJoin(kept.select("u").distinct().agg(F.count("*").alias("nn")))
            .first()
        )
        if r > 1:
            release(und)  # the previous round's checkpoint, read last above
        und = kept
        profile.append((r, row["nr"], row["nn"]))
    release(und)
    return spark.createDataFrame(
        profile, "round long, n_removed long, n_remaining long"
    )
