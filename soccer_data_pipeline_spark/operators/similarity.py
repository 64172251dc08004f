"""[beyond-ref] Similarity search over embedding columns (SURVEY §2.10).

Two tiers:

- ``brute_force_topk``: exact cosine top-k. The query side is small and
  broadcast; candidates stream through one narrow projection + a
  per-query-group top-k window. Exact baseline, O(|Q|·|C|) work but
  fully distributed and shuffle-light (the only shuffle is the final
  per-query top-k, bounded by |Q|·k rows after the window's
  WindowGroupLimit pushdown).
- ``ann_lsh_cosine``: random-hyperplane LSH (sign-bit sketch). Each
  vector maps to a small bucket code; candidates are only pairs whose
  codes collide (optionally within Hamming distance 1 via multiprobe).
  At 100 TB this turns the cross product into a bucket-local join
  whose cost tracks corpus size, not its square. Hyperplanes are
  seeded-deterministic, so results are reproducible run-to-run.

Dot products use ``zip_with`` + ``aggregate`` — JVM codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(col):
    """sqrt(v·v) — precomputed per ROW before pair joins so each pair
    costs one dot product, not three. Bit-identical to evaluating the
    norm inside the pair expression (same operands, same fold order),
    so oracle-checked cosines are unchanged."""
    return F.sqrt(_dot(col, col))


def _pair_cosine(qv, cv, qn, cn):
    return F.round(_dot(qv, cv) / (qn * cn), 6)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector (the recall=1.0 baseline)."""
    from .skew import spread_for_compute

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    # the |C|·|Q| interpreted-HOF cosine work runs in the candidate
    # scan's stage — spread it (guide §2.5; single-row-group scans
    # otherwise serialize it on 1 task)
    c = spread_for_compute(candidates).select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    sims = c.join(F.broadcast(q), how="cross").select(
        "query_id",
        "candidate_id",
        _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG, no numpy
    needed at runtime — the constants are part of the plan)."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _lit_d(x: float) -> str:
    """SQL double literal with exact round-trip (repr is shortest
    round-trip; decimal→double parse is correctly rounded; D suffix
    keeps Spark from reading it as DECIMAL)."""
    return repr(float(x)) + "D"


def _dot_sql(col_name: str, vec: list[float]) -> str:
    """SQL text for v·constant — same aggregate/zip_with op tree (and
    therefore bit-identical doubles) as the Column-built ``_dot``."""
    arr = "array(" + ",".join(_lit_d(x) for x in vec) + ")"
    return (
        f"aggregate(zip_with({col_name}, {arr}, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x)"
    )


def lsh_bucket_sql(col_name: str, planes: list[list[float]]) -> str:
    """SQL text for the sign-bit bucket code: bit i = sign(v·p_i).

    Generated as TEXT and parsed JVM-side in one round trip because
    plane constants are big: the banded config embeds 36×64 doubles,
    and building that expression through the Column API costs ~15k
    py4j round trips — measured 2.5-3 s of plan-CONSTRUCTION time per
    query (driver-side, so it would precede every job on a real
    cluster too) vs ~50 ms for one parsed string. Identical op tree
    (aggregate/zip_with/multiply/add, correctly-rounded literals), so
    bucket codes — and every measured recall — are bit-identical.
    """
    bits = " + ".join(
        f"(CASE WHEN {_dot_sql(col_name, p)} > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def lsh_bucket(col_name: str, planes: list[list[float]]):
    """Sign-bit bucket code column for a named vector column."""
    return F.expr(lsh_bucket_sql(col_name, planes))


def ann_lsh_cosine(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool | int = True,
) -> DataFrame:
    """Approximate top-k: sign-bucket equi-join, cosine within bucket.

    ``multiprobe`` is a Hamming radius: also probe every bucket whose
    code differs from the query's in at most that many bits (the
    standard LSH multiprobe trick — more, still bucket-local, work for
    recall). ``True`` means radius 1, ``False``/0 exact-bucket only.
    Probe count is sum of C(n_planes, r) for r <= radius, so keep the
    radius small; recall on near-uniform corpora tracks the probed
    fraction of bucket space (measured in tests/test_ann_recall.py).
    """
    radius = 1 if multiprobe is True else int(multiprobe)
    planes = _hyperplanes(dim, n_planes)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("qn", _norm(F.col("qv")))
        .withColumn("bucket", lsh_bucket("qv", planes))
    )
    c = (
        candidates.select(
            F.col(id_col).alias("candidate_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", _norm(F.col("cv")))
        .withColumn("bucket", lsh_bucket("cv", planes))
    )

    if radius > 0:
        from itertools import combinations

        masks = [
            sum(1 << b for b in bits)
            for r in range(1, radius + 1)
            for bits in combinations(range(n_planes), r)
        ]
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks],
        )
        q = q.withColumn("bucket", F.explode(probes))

    sims = q.join(c, "bucket").select(
        "query_id",
        "candidate_id",
        _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        sims.dropDuplicates(["query_id", "candidate_id"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    model=None,
):
    """IVF (inverted-file) ANN: k-means coarse quantizer → candidates
    are searched only in the query's ``n_probe`` nearest cells.

    The scale path the FAISS-style IVF index uses, expressed on Spark:

    1. fit the coarse quantizer on a bounded SAMPLE of the candidate
       vectors — the quantizer only needs the cluster geometry, which
       ~256 points per centroid capture (FAISS trains on exactly such
       a sample); a full-corpus fit at 100 TB is both unaffordable and
       unnecessary. This is the only iterative step, run once per
       corpus build, not per query — pass the returned ``model`` back
       in to skip it. r11: the trainer is the deterministic
       grid-exact Lloyd operator (operators/kmeans.py — the same code
       path the ``kmeans_fixed_assign`` differential hash-checks),
       replacing the opaque Spark ML fit: the quantizer is now pure
       data (k×dim grid ints), session-independent, and byte-stable
       per (corpus, config);
    2. assign every candidate to its nearest centroid IN-ROW (zero
       shuffle — ``DeterministicKMeans.with_cell``);
    3. per query, rank centroids and probe the top ``n_probe`` cells
       via an equi-join on cell id — work scales with corpus/n_centroids
       × n_probe, never |Q|·|C|.

    Returns (results_df, model) so the quantizer can be reused; persist
    it with ``model.save(path)`` and pass ``DeterministicKMeans.load(path)``
    back as ``model`` to skip the fit in a later session.
    """
    from .kmeans import fit_deterministic_kmeans

    if model is None:
        model = fit_deterministic_kmeans(
            candidates,
            k=n_centroids,
            n_iters=4,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=256 * n_centroids,
            seed=seed,
        )
    index = ivf_index(candidates, model, id_col=id_col, vec_col=vec_col)
    out = ivf_search(
        queries, index, model, k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    return out, model


def ivf_index(
    candidates: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build — or incrementally EXTEND — the IVF index frame:
    (candidate_id, cv, cn, cell).

    Assignment is in-row against the persisted centers
    (``DeterministicKMeans.with_cell`` — zero shuffle, zero join), so
    this one function is both the initial build and the
    incremental-maintenance primitive: a
    batch of NEW embeddings indexes with ``ivf_index(batch, model)``
    — one narrow pass — and unions onto the stored index (it is just
    rows). No refit, no rescan of the existing corpus; the quantizer
    stays the persisted index-build artifact (the FAISS `add` contract
    vs `train`)."""
    from .skew import spread_for_compute

    cand = spread_for_compute(candidates).select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    return model.with_cell(cand, vec_col="cv").select(
        "candidate_id", "cv", "cn", "cell"
    )


def _probe_cells(q: DataFrame, model, n_probe: int) -> DataFrame:
    """Per-query probe routing: rank the k cells by distance to the
    query against the centroid constants and explode the top
    ``n_probe`` — (query_id, qv, qn, cell) rows ready for the cell
    equi-join. One parsed SQL string (see lsh_bucket_sql): centroid
    constants via the Column API cost ~1k py4j round trips per
    construction. r11: ONE transform over a single k×d literal
    array-of-arrays instead of k copies of the fold — same op tree
    per element (bit-identical dist2), but the lambda body
    parses/analyzes once: measured ~2× faster plan construction on
    the k=16 config."""
    centers_2d = _coarse_centers_sql(model)
    cell_arrays = F.expr(
        f"transform({centers_2d}, (cv, i) -> "
        "named_struct('cell', i, 'dist2', "
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), "
        "0D, (acc, x) -> acc + x)))"
    )
    return (
        q.withColumn(
            "probe",
            F.slice(
                F.array_sort(
                    cell_arrays,
                    lambda a, b: F.when(a.dist2 < b.dist2, -1)
                    .when(a.dist2 > b.dist2, 1)
                    .otherwise(0),
                ),
                1,
                n_probe,
            ),
        )
        .withColumn("cell", F.explode(F.col("probe.cell")))
        .drop("probe")
    )


def probe_cell_ids(
    queries: DataFrame,
    model,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Distinct probed cell ids for a bounded query batch, as a
    driver-side sorted list — the STATIC partition-pruning input for a
    cell-partitioned index scan (``index_pipeline.load_ann_index``'s
    ``cells`` filter). One bounded job over the query batch; the result
    is at most min(|Q| · n_probe, k) ints, and k (the coarse quantizer
    size) is itself a driver-held constant — so at any corpus scale
    this collect moves a few ints, never data."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    rows = _probe_cells(q, model, n_probe).select("cell").distinct().collect()
    return sorted(int(r["cell"]) for r in rows)


def ivf_search(
    queries: DataFrame,
    index: DataFrame,
    model,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-time half of the IVF path: rank cells per query against
    the (broadcastable, k-sized) centroid constants, probe the top
    ``n_probe`` cells via an equi-join on cell id, exact-cosine rank
    within the probed shortlist. ``index`` is any frame produced by
    :func:`ivf_index` — freshly built, loaded from parquet, or a
    union of both (the incremental path)."""
    assigned = index
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    probed = _probe_cells(q, model, n_probe)
    sims = probed.join(assigned, "cell").select(
        "query_id",
        "candidate_id",
        _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def banded_candidate_pairs(
    df: DataFrame,
    n_planes: int = 36,
    band_width: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from banded sign-LSH blocking (no cosine).

    The MinHash-LSH banding scheme applied to random-hyperplane sign
    bits: ``n_planes`` sign bits split into ``n_planes // band_width``
    bands; two vectors become a candidate pair iff they agree on ALL
    bits of at least one band (within the same ``label_col`` block when
    given). Per-band bucket size — not label size — bounds the pair
    space: at production scale ``band_width`` grows ~log2(n) to keep
    buckets small, and ``max_bucket_size`` drops degenerate hot buckets
    outright (same contract as dedup.minhash_near_dup_pairs).

    Returns (vec_a, vec_b, label, av, an, bv, bn) — ids plus both
    vectors/norms so callers can verify cosine without a second scan;
    recall-gate callers that only intersect on ids (an exact pair found
    here always passes the downstream cosine verify — same operands,
    same threshold) can drop the vector columns and skip the dot
    products entirely.
    """
    if n_planes % band_width != 0:
        raise ValueError("n_planes must be a multiple of band_width")
    planes = _hyperplanes(dim, n_planes)
    n_bands = n_planes // band_width

    base = df.select(
        F.col(id_col).alias("vid"),
        *([F.col(label_col).alias("lbl")] if label_col else [F.lit(0).alias("lbl")]),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", _norm(F.col("v")))

    # one code per band: band b = bits [b*w, (b+1)*w) of the sign sketch.
    # The array expression is fused into the posexplode's select: aliased
    # in a separate projection, InferFiltersFromGenerate + pushdown would
    # inline all n_planes interpreted plane-dot-products into a size()>0
    # filter below and run them twice per row (same trap measured 6× on
    # the MinHash shingle stage). Built as ONE parsed SQL string — the
    # 36×64 plane constants through the Column API cost seconds of py4j
    # round trips per construction (see lsh_bucket_sql).
    band_codes = F.expr(
        "array("
        + ",".join(
            lsh_bucket_sql("v", planes[b * band_width : (b + 1) * band_width])
            for b in range(n_bands)
        )
        + ")"
    )
    coded = base.select(
        "vid", "lbl", "v", "n", F.posexplode(band_codes).alias("band", "code")
    )
    # Materialization boundary: coded feeds four consumers (hot-bucket
    # agg, anti-join probe, both self-join sides). A repartition on the
    # join keys turns into ONE shuffle exchange that ReuseExchange
    # serves to all four — the n_planes interpreted sign-dots run once
    # per row, not four times — and it already satisfies the self-join's
    # distribution. Corpus-sized, so an exchange (disk-backed shuffle
    # files) is the right boundary, not a cache.
    coded = coded.repartition("lbl", "band", "code")

    if max_bucket_size is not None:
        hot = (
            coded.groupBy("lbl", "band", "code")
            .agg(F.count("*").alias("_m"))
            .where(F.col("_m") > max_bucket_size)
            .select("lbl", "band", "code")
        )
        coded = coded.join(F.broadcast(hot), ["lbl", "band", "code"], "left_anti")

    a = coded.alias("a")
    b = coded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.lbl") == F.col("b.lbl"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.col("a.lbl").alias("label"),
            F.col("a.v").alias("av"),
            F.col("a.n").alias("an"),
            F.col("b.v").alias("bv"),
            F.col("b.n").alias("bn"),
        )
        # a pair colliding in k bands appears k times — dedup BEFORE cosine
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return pairs


def banded_incremental_candidates(
    df: DataFrame,
    new_ids: DataFrame,
    n_planes: int = 36,
    band_width: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded sign-LSH candidates touching at least one NEW vector —
    the embedding twin of ``dedup.lsh_incremental_candidates``: the
    band join is new-side × full-side, so candidate cost scales with
    the batch and existing-vs-existing pairs are never generated. At
    scale the full side's band codes load from the sketch store
    written by the previous run (they are one long per (vid, band));
    only the batch is re-sketched.

    Returns the same (vec_a, vec_b, label, av, an, bv, bn) contract as
    ``banded_candidate_pairs`` with (least, greatest)-normalized ids.
    """
    if n_planes % band_width != 0:
        raise ValueError("n_planes must be a multiple of band_width")
    planes = _hyperplanes(dim, n_planes)
    n_bands = n_planes // band_width

    base = df.select(
        F.col(id_col).alias("vid"),
        *([F.col(label_col).alias("lbl")] if label_col else [F.lit(0).alias("lbl")]),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", _norm(F.col("v")))
    band_codes = F.expr(
        "array("
        + ",".join(
            lsh_bucket_sql("v", planes[b * band_width : (b + 1) * band_width])
            for b in range(n_bands)
        )
        + ")"
    )
    coded = base.select(
        "vid", "lbl", "v", "n", F.posexplode(band_codes).alias("band", "code")
    )
    coded = coded.repartition("lbl", "band", "code")
    if max_bucket_size is not None:
        # cap on the FULL bucket population — identical semantics to the
        # full run regardless of which batch is looking
        hot = (
            coded.groupBy("lbl", "band", "code")
            .agg(F.count("*").alias("_m"))
            .where(F.col("_m") > max_bucket_size)
            .select("lbl", "band", "code")
        )
        coded = coded.join(F.broadcast(hot), ["lbl", "band", "code"], "left_anti")
    new_side = coded.join(
        new_ids.select(F.col(new_ids.columns[0]).alias("vid")), "vid", "left_semi"
    ).alias("a")
    full_side = coded.alias("b")
    return (
        new_side.join(
            full_side,
            (F.col("a.lbl") == F.col("b.lbl"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vid") != F.col("b.vid")),
        )
        .select(
            F.least(F.col("a.vid"), F.col("b.vid")).alias("vec_a"),
            F.greatest(F.col("a.vid"), F.col("b.vid")).alias("vec_b"),
            F.col("a.lbl").alias("label"),
            # vectors re-keyed to the normalized order so the caller's
            # cosine sees (vec_a's vector, vec_b's vector) regardless of
            # which side was the batch
            F.when(F.col("a.vid") < F.col("b.vid"), F.col("a.v"))
            .otherwise(F.col("b.v"))
            .alias("av"),
            F.when(F.col("a.vid") < F.col("b.vid"), F.col("a.n"))
            .otherwise(F.col("b.n"))
            .alias("an"),
            F.when(F.col("a.vid") < F.col("b.vid"), F.col("b.v"))
            .otherwise(F.col("a.v"))
            .alias("bv"),
            F.when(F.col("a.vid") < F.col("b.vid"), F.col("b.n"))
            .otherwise(F.col("a.n"))
            .alias("bn"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def near_dup_pairs_banded(
    df: DataFrame,
    threshold: float,
    n_planes: int = 36,
    band_width: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs: banded sign-LSH candidates + exact cosine verify.

    Recall is config- and corpus-dependent; the registered
    ``embedding_near_dup`` query gates it in-plan against the exact
    label-blocked pairs (measured on the driver corpus, floor 0.8:
    recall 1.0 @sf0.001, 1.0 @sf0.01, 0.9668 @sf0.1 for the default
    36-plane/3-bit config — retuned from 24 planes in r6 when the
    sf0.1 margin thinned to +0.067; theory at the 0.35-cosine
    threshold: band hit p^3=0.232, 12 bands -> 1-(1-p^3)^12 = 0.957).
    """
    pairs = banded_candidate_pairs(
        df,
        n_planes=n_planes,
        band_width=band_width,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
        max_bucket_size=max_bucket_size,
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        "label",
        _pair_cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def _pq_codebooks(models) -> list[list[list[float]]]:
    return [[list(map(float, c)) for c in mod.clusterCenters()] for mod in models]


def _with_pq_luts(q: DataFrame, codebooks, sub: int) -> DataFrame:
    """Append per-QUERY ADC lookup tables: dot(q_s, centroid_{s,j})
    for every j — evaluated once per query row, never per pair. One
    parsed SQL expression per subspace (m exprs total), not m·n_codes
    Column-API dot products: the Column form measured ~10 s of pure
    plan construction per bench run at m=16."""
    lut_cols = {}
    for s, book in enumerate(codebooks):
        entries = ",".join(
            "aggregate(zip_with(slice(qv, {o}, {w}), array({arr}), "
            "(a, b) -> a * b), 0D, (acc, x) -> acc + x)".format(
                o=s * sub + 1, w=sub, arr=",".join(_lit_d(x) for x in c)
            )
            for c in book
        )
        lut_cols[f"lut{s}"] = F.expr(f"array({entries})")
    # all m LUT columns land in ONE projection (r16 planning hygiene,
    # guide §7.3): a per-subspace withColumn loop re-analyzes a growing
    # literal-heavy plan m times
    return q.withColumns(lut_cols)


def _adc_dot_expr(m: int):
    """Σ_s LUT_s[code_s]: m element_at calls per pair, independent of
    the raw dimension."""
    return F.expr(" + ".join(f"element_at(lut{s}, code{s} + 1)" for s in range(m)))


def _coarse_centers_sql(model) -> str:
    """The coarse quantizer's k×d centers as one SQL literal (one
    parsed string — the lsh_bucket_sql / _probe_cells discipline: k×d
    constants through the Column API cost ~1k py4j round trips per
    plan)."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(_lit_d(x) for x in c) + ")"
            for c in model.clusterCenters()
        )
        + ")"
    )


def _subspace_dim(dim: int, m: int) -> int:
    """Dims per PQ subspace. A raise, not an assert: under ``python -O``
    a dim not divisible by m would silently drop the trailing dims from
    every code."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return sub


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    models: list | None = None,
):
    """Product-quantization ANN (asymmetric distance computation):
    the embedding-COMPRESSION scale path — candidates are stored as
    ``m`` one-byte codes (m·log₂(n_codes) bits ≈ 64× smaller than
    64 float dims), and each query→candidate dot product costs ``m``
    table lookups instead of D multiplies.

    The FAISS-PQ shape expressed on Spark:

    1. split the D dims into ``m`` contiguous subspaces; per subspace
       fit a codebook of ``n_codes`` centers on a bounded sample (same
       train-on-sample rationale as :func:`ivf_topk`; r11: the fit is
       the deterministic grid-exact Lloyd operator, operators/kmeans.py
       — codebooks are pure data, persistable as JSON, byte-stable per
       corpus+config); pass ``models`` back in to skip refits;
    2. ENCODE (once per corpus build): each candidate → its nearest
       centroid id per subspace, plus the reconstruction norm
       ‖ĉ‖² = Σ_s ‖centroid_{s,code_s}‖² — one Arrow projection
       (``kmeans.pq_encode``) against the codebooks held as constants;
       a narrow pass, and only (id, m codes, norm) ever shuffles;
    3. QUERY (per query row, not per pair): a lookup table per
       subspace — dot(q_s, centroid_{s,j}) for all j — so the pair
       join evaluates approx_dot = Σ_s LUT_s[code_s]: m element_at
       calls per pair, independent of D;
    4. rank by approximate cosine (approx_dot / (‖q‖·‖ĉ‖)).

    At 100 TB this composes with IVF (probe cells first, ADC inside
    the probed cells) — here it runs flat so the recall gate measures
    PQ alone. Returns (results_df, models).
    """
    from .kmeans import pq_encode
    from .skew import spread_for_compute

    if models is not None:
        # prefit models carry the dimension (m subspaces of `sub` dims
        # each) — no eager probe job against the candidate frame
        # (ADVICE r6: first() cost a driver job per call AND raised
        # TypeError on an empty frame).
        sub = len(models[0].clusterCenters()[0])
    else:
        probe = candidates.select(_as_double(F.col(vec_col)).alias("v")).first()
        if probe is None:
            raise ValueError(
                "pq_topk: candidate frame is empty — cannot fit PQ "
                "codebooks; pass prefit `models` or a non-empty corpus"
            )
        sub = _subspace_dim(len(probe["v"]), m)

    cand = spread_for_compute(candidates).select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    if models is None:
        models = fit_pq_codebooks(cand, None, m, n_codes, sub, seed)

    codebooks = _pq_codebooks(models)
    encoded = pq_encode(cand, codebooks, "cv").select(
        "candidate_id", *[f"code{s}" for s in range(m)], "chat_norm"
    )

    q = _with_pq_luts(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", _norm(F.col("qv"))),
        codebooks,
        sub,
    )
    approx_dot = _adc_dot_expr(m)
    sims = q.crossJoin(F.broadcast(encoded)).select(
        "query_id",
        "candidate_id",
        (approx_dot / (F.col("qn") * F.col("chat_norm"))).alias("approx_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("candidate_id")
    )
    out = sims.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= k
    )
    return out, models


def pq_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    shortlist: int = 200,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    models: list | None = None,
):
    """PQ shortlist → exact re-rank: the full FAISS-style serving
    composition. The ADC scan (:func:`pq_topk`) pays m lookups per
    candidate to cut the corpus to ``shortlist`` ids per query; only
    those rows are joined back to their FULL vectors for the exact
    cosine that decides the final top-k. At 100 TB the exact side
    touches shortlist·|Q| vectors instead of |C|·|Q| — the re-rank
    join is the only stage that reads uncompressed embeddings.

    Returns (results_df, models). Measured recall@5 vs exact with the
    defaults (m=16 → 4-dim subspaces, 16 codes = 8 bytes/vector, 32×
    compression): 1.0 @sf0.001, 1.0 @sf0.01, macro 0.98 / min-query
    0.8 @sf0.1.
    """
    short, models = pq_topk(
        queries,
        candidates,
        k=shortlist,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        models=models,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = candidates.select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    rer = (
        short.select("query_id", "candidate_id")
        .join(c, "candidate_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "candidate_id",
            _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    out = rer.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= k
    )
    return out, models


def fit_pq_codebooks(
    cand: DataFrame,
    coarse,
    m: int,
    n_codes: int,
    sub: int,
    seed: int = 42,
    residual: bool = False,
) -> list:
    """Fit the m per-subspace PQ codebooks on a bounded sample of
    ``cand`` (a (candidate_id, cv) frame of double arrays) — extracted
    verbatim from the ivfpq_topk fit block so the index-build pipeline
    and the registered query share one code path (the kmeans-trainer
    discipline: byte-identical codebooks per corpus+config wherever
    the fit runs). ``residual=True`` trains on the coarse residuals
    (x − centroid[cell]) — codebooks must model what they will
    encode."""
    from .kmeans import fit_deterministic_kmeans

    if residual:
        # one narrow with_cell + zip_with pass over the training sample
        centers = _coarse_centers_sql(coarse)
        cand = coarse.with_cell(cand, vec_col="cv").select(
            "candidate_id",
            F.expr(
                f"zip_with(cv, element_at({centers}, cell + 1), "
                "(a, b) -> a - b)"
            ).alias("cv"),
        )
    subcols = [
        F.slice(F.col("cv"), s * sub + 1, sub).alias(f"s{s}") for s in range(m)
    ]
    cand_sub = cand.select("candidate_id", *subcols)
    target = 256 * n_codes
    n_cand = cand.count()
    base = cand_sub
    if n_cand > target:
        base = cand_sub.sample(fraction=min(1.0, 1.2 * target / n_cand), seed=seed)
        est = int(1.2 * target)
    else:
        est = n_cand
    if est <= 65536:
        # ONE bounded collect feeds all m driver-local fits (r16,
        # VERDICT r15 #3): per-subspace fit_deterministic_kmeans calls
        # each paid their own count + collect over the same sample —
        # 2m+1 sequential driver jobs for m repeats of identical
        # milliseconds-of-arithmetic input prep. The quantization is
        # the same JVM-side HALF_UP grid round, the sample is the same
        # seeded Bernoulli over the same lineage, and _fit_local is the
        # exact arithmetic the per-subspace path already dispatched to
        # under the same ≤65536-row bound (its local_cap default) — so
        # the codebooks are bit-identical with 2 jobs total; the
        # eager-checkpoint staging of the sample is subsumed by the
        # collect. Oversized configs keep the distributed loop.
        from .kmeans import GRID_Q, _fit_local, quantize_vec

        rows = base.select(
            "candidate_id",
            *[quantize_vec(F.col(f"s{s}")).alias(f"q{s}") for s in range(m)],
        ).collect()
        return [
            _fit_local(
                [
                    (r["candidate_id"], [int(x) for x in r[f"q{s}"]])
                    for r in rows
                ],
                n_codes,
                4,
                "farthest",
                GRID_Q,
            )
            for s in range(m)
        ]
    base = base.localCheckpoint(eager=True)  # one sample, m fits
    return [
        fit_deterministic_kmeans(
            base.select("candidate_id", f"s{s}"),
            k=n_codes,
            n_iters=4,
            id_col="candidate_id",
            vec_col=f"s{s}",
        )
        for s in range(m)
    ]


def ivfpq_index(
    candidates: DataFrame,
    coarse,
    models: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Build — or incrementally EXTEND — the composed IVF×PQ index:
    (candidate_id, cell, code0..m-1, chat_norm).

    The stored footprint is the coarse cell plus m·log₂(n_codes) bits
    of PQ code per vector (8 bytes at the m=16/n_codes=16 default —
    raw vectors are NOT in the index; the exact re-rank reads them
    from the corpus for the shortlist only). Both the cell and the
    codes are per-row functions of PERSISTED constants (the coarse
    centers JSON + the m codebooks), so one narrow pass indexes a new
    batch with no refit and no rescan — the FAISS IndexIVFPQ ``add``
    contract, same as :func:`ivf_index`. The encode is one Arrow
    projection (``kmeans.pq_encode``) against those persisted
    constants, after the in-row cell assignment: no literal in the
    plan, no join, no shuffle.

    ``residual=True`` is the true FAISS IndexIVFPQ encoding: PQ codes
    quantize the RESIDUAL (x − centroid[cell]) instead of x itself.
    Residuals concentrate in a ball around the origin (the coarse
    quantizer has already explained the between-cell variance), so the
    same m·log₂(n_codes)-bit budget spends entirely on within-cell
    detail — measurably tighter ADC estimates at identical footprint.
    The reconstruction is chat = centroid[cell] + decode(codes), and
    ``chat_norm`` stores ‖chat‖ so search normalizes the same way;
    everything stays a per-row function of persisted constants (the
    ``add`` contract is unchanged)."""
    from .kmeans import pq_encode
    from .skew import spread_for_compute

    codebooks = _pq_codebooks(models)
    cand = spread_for_compute(candidates).select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    enc = pq_encode(
        coarse.with_cell(cand, vec_col="cv"),
        codebooks,
        "cv",
        centers=coarse.clusterCenters() if residual else None,
    )
    return enc.select(
        "candidate_id", "cell", *[f"code{s}" for s in range(len(codebooks))],
        "chat_norm",
    )


def ivfpq_search(
    queries: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    coarse,
    models: list,
    k: int = 5,
    shortlist: int = 200,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """Query-time half of IVF×PQ (the FAISS IndexIVFPQ serving shape,
    on Spark): route each query to its ``n_probe`` nearest cells
    (centroid constants, bounded), ADC-scan ONLY the probed cells'
    codes (m table lookups per scanned code — work tracks
    corpus/n_centroids × n_probe, never |Q|·|C|, and the scan touches
    8-byte codes, not vectors), shortlist per query, then exact-cosine
    re-rank of the shortlist against the full vectors read from
    ``corpus``. The only stage that touches uncompressed embeddings is
    the shortlist·|Q| re-rank join.

    ``residual=True`` decodes an index built with residual encoding:
    dot(q, chat) = dot(q, centroid[cell]) + dot(q, rhat). The first
    term is per-(query, probed-cell) — |Q|·n_probe folds over the
    centroid constants, computed once on the probed frame before the
    cell join; the second is the usual per-code ADC lookup (the LUTs
    are against the residual codebooks, same m element_at per pair)."""
    codebooks = _pq_codebooks(models)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = _with_pq_luts(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", _norm(F.col("qv"))),
        codebooks,
        sub,
    )
    probed = _probe_cells(q, coarse, n_probe)
    adc = _adc_dot_expr(m)
    if residual:
        centers = _coarse_centers_sql(coarse)
        probed = probed.withColumn(
            "qc",
            F.expr(
                f"aggregate(zip_with(qv, element_at({centers}, cell + 1), "
                "(a, b) -> a * b), 0D, (acc, x) -> acc + x)"
            ),
        )
        adc = F.col("qc") + adc
    sims = probed.join(index, "cell").select(
        "query_id",
        "candidate_id",
        (adc / (F.col("qn") * F.col("chat_norm"))).alias(
            "approx_cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("candidate_id")
    )
    short = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= shortlist)
        .select("query_id", "candidate_id")
    )
    c = corpus.select(
        F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    qq = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    rer = (
        short.join(c, "candidate_id")
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id",
            "candidate_id",
            _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("candidate_id"))
    return rer.withColumn("rn", F.row_number().over(w2).cast("long")).where(
        F.col("rn") <= k
    )


def fit_ivfpq_quantizers(
    candidates: DataFrame,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 16,
    seed: int = 42,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse=None,
    models: list | None = None,
):
    """Fit whichever IVF×PQ quantizers are missing — THE single home
    for the fit hyperparameters (n_iters=4, 256·k coarse sample,
    256·n_codes codebook sample), shared by ``ivfpq_topk`` (what the
    hash-checked registered queries run) and the index-build pipeline
    (what production persists), so the two can never drift apart.
    Returns (coarse, models)."""
    from .kmeans import fit_deterministic_kmeans

    if models is not None:
        sub = len(models[0].clusterCenters()[0])
    elif coarse is not None:
        # the coarse centers already carry the dimensionality — skip
        # the one-row probe job (r16: construction-job collapse)
        sub = _subspace_dim(len(coarse.clusterCenters()[0]), m)
    else:
        probe = candidates.select(_as_double(F.col(vec_col)).alias("v")).first()
        if probe is None:
            raise ValueError(
                "fit_ivfpq_quantizers: candidate frame is empty — pass "
                "prefit models or a non-empty corpus"
            )
        sub = _subspace_dim(len(probe["v"]), m)
    if coarse is None:
        coarse = fit_deterministic_kmeans(
            candidates,
            k=n_centroids,
            n_iters=4,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=256 * n_centroids,
            seed=seed,
        )
    if models is None:
        cand = candidates.select(
            F.col(id_col).alias("candidate_id"), _as_double(F.col(vec_col)).alias("cv")
        )
        models = fit_pq_codebooks(
            cand, coarse, m=m, n_codes=n_codes, sub=sub, seed=seed,
            residual=residual,
        )
    return coarse, models


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    shortlist: int = 200,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    coarse=None,
    models: list | None = None,
    residual: bool = False,
):
    """The composed IVF×PQ path the flat-PQ docstring promised
    ('at 100 TB this composes with IVF — probe cells first, ADC inside
    the probed cells'), now a real operator: coarse-route → ADC scan
    inside probed cells → shortlist → exact re-rank. Both quantizers
    are the deterministic Lloyd trainer (persistable as JSON), fit on
    bounded samples. Returns (results_df, coarse, models).

    ``residual=True`` trains the codebooks on the coarse residuals
    (x − centroid[cell]) of the same bounded sample and encodes/serves
    residuals end to end — the true FAISS IndexIVFPQ. Codebooks fit
    with ``residual=True`` only decode residual-encoded indexes (and
    vice versa); keep the two cached separately."""
    coarse, models = fit_ivfpq_quantizers(
        candidates,
        n_centroids=n_centroids,
        m=m,
        n_codes=n_codes,
        seed=seed,
        residual=residual,
        id_col=id_col,
        vec_col=vec_col,
        coarse=coarse,
        models=models,
    )
    index = ivfpq_index(
        candidates, coarse, models, id_col=id_col, vec_col=vec_col, residual=residual
    )
    out = ivfpq_search(
        queries,
        index,
        candidates,
        coarse,
        models,
        k=k,
        shortlist=shortlist,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        residual=residual,
    )
    return out, coarse, models
