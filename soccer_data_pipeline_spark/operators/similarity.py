"""[beyond-ref] Similarity search over embedding columns (SURVEY §2.10).

Three families, one exact and two approximate:

- ``brute_force_topk``: exact cosine top-k, the recall=1.0 baseline.
  The query side is broadcast; candidates stream through one narrow
  projection + a per-query top-k window (O(|Q|·|C|) work, the only
  shuffle bounded by |Q|·k rows after WindowGroupLimit pushdown).
- Sign-bit LSH (random hyperplanes, seeded, so reproducible):
  ``ann_lsh_cosine`` joins query and candidate bucket codes (with
  Hamming multiprobe), and the banded near-dup builders
  (``banded_candidate_pairs`` and its incremental twin) self-join on
  per-band codes; work tracks bucket sizes, not |C|².
- Quantized indexes on the deterministic k-means trainer
  (operators/kmeans.py): IVF (``ivf_topk``: coarse cells, probe the
  nearest ``n_probe``), PQ (``pq_topk``, ``pq_rerank_topk``: m one-byte
  codes per vector, ADC lookups) and their composition IVF×PQ
  (``fit_ivfpq_quantizers`` → ``ivfpq_index`` → ``ivfpq_search``, which
  the persisted index pipeline serves). Quantizers are fit on the
  driver from one bounded seeded sample.

Dot products use ``zip_with`` + ``aggregate`` — JVM codegen, no Python.
The IVF and PQ searches collect their bounded query batch once
(:class:`QueryBatch`) and compute the query side (norms, probed cells,
ADC lookup tables, residual terms) on the driver with numpy folds in
the same left-to-right order, bit for bit; Spark sees that state as
one small local relation, never as plan literals.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType

from ..functions.vectors import as_double_array, dot


def _norm(col):
    """sqrt(v·v) — precomputed per ROW before pair joins so each pair
    costs one dot product, not three. Bit-identical to evaluating the
    norm inside the pair expression (same operands, same fold order),
    so oracle-checked cosines are unchanged."""
    return F.sqrt(dot(col, col))


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, side: str = "c", norm: bool = True
) -> DataFrame:
    """(candidate_id, cv[, cn]), or for ``side="q"`` (query_id, qv[, qn]):
    ``vec_col`` as doubles and its norm."""
    key, v = ("query_id" if side == "q" else "candidate_id"), f"{side}v"
    out = df.select(
        F.col(id_col).alias(key), as_double_array(F.col(vec_col)).alias(v)
    )
    return out.withColumn(f"{side}n", _norm(F.col(v))) if norm else out


def _pair_cosine(qv, cv, qn, cn):
    return F.round(dot(qv, cv) / (qn * cn), 6)


def _top_k(sims: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The ``k`` best rows per query by ``score``, ties to the smaller
    candidate id, ranked in a long ``rn``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("candidate_id"))
    return sims.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= k
    )


def _exact_rerank(
    short: DataFrame, corpus: DataFrame, q: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact-cosine top-k of a (query_id, candidate_id) shortlist: only
    the shortlisted rows join back to their full vectors in ``corpus``;
    ``q`` is the (query_id, qv, qn) query side, broadcast."""
    rer = (
        short.select("query_id", "candidate_id")
        .join(_vectors(corpus, id_col, vec_col), "candidate_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "candidate_id",
            _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    return _top_k(rer, k)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector (the recall=1.0 baseline)."""
    from .skew import spread_for_compute

    q = _vectors(queries, id_col, vec_col, "q")
    # the |C|·|Q| interpreted-HOF cosine work runs in the candidate
    # scan's stage — spread it (guide §2.5; single-row-group scans
    # otherwise serialize it on 1 task)
    c = _vectors(spread_for_compute(candidates), id_col, vec_col)
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
    therefore bit-identical doubles) as the Column-built ``dot``."""
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
    q = _vectors(queries, id_col, vec_col, "q").withColumn(
        "bucket", lsh_bucket("qv", planes)
    )
    c = _vectors(candidates, id_col, vec_col).withColumn(
        "bucket", lsh_bucket("cv", planes)
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


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ_t a[..., t]·b[..., t] of broadcastable arrays, folded left to
    right from 0.0 — ``dot``'s order, so the doubles equal the SQL
    fold's bit for bit (a pairwise ``.sum()`` changes the last bit)."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for t in range(a.shape[-1]):
        acc = acc + a[..., t] * b[..., t]
    return acc


@dataclass(frozen=True, eq=False)
class QueryBatch:
    """A bounded query batch on the driver: ``ids`` (Spark type
    ``id_type``), ``qv`` (vectors as doubles) and ``qn`` (``_norm``'s fold)."""

    ids: list
    id_type: DataType
    qv: np.ndarray
    qn: np.ndarray

    @classmethod
    def of(cls, ids, vectors, id_type: DataType = LongType()) -> QueryBatch:
        qv = np.array(vectors, dtype=np.float64)
        if not len(qv):
            qv = np.zeros((0, 0))
        return cls(list(ids), id_type, qv, np.sqrt(_fold_dot(qv, qv)))

    def vectors(self, d: int) -> np.ndarray:
        """``qv`` as an n×d matrix (an empty batch has no width of its own)."""
        return self.qv.reshape(len(self.ids), d)


def collect_queries(
    queries: DataFrame | QueryBatch,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> QueryBatch:
    """Collect a bounded query frame to the driver: one job moving
    |Q|·d doubles, so a search that probes and then scans collects once.
    A :class:`QueryBatch` passes through."""
    if isinstance(queries, QueryBatch):
        return queries
    rows = queries.select(id_col, as_double_array(F.col(vec_col))).collect()
    ids = queries.schema[id_col].dataType
    return QueryBatch.of([r[0] for r in rows], [r[1] for r in rows], ids)


def _query_arrays(
    batch: QueryBatch,
    centers=None,
    n_probe: int = 0,
    codebooks=None,
    residual: bool = False,
) -> dict[str, np.ndarray]:
    """The per-query terms of a search as numpy columns: ``query`` (the
    batch row) per query or, with ``centers``, per (query, probed cell)
    nearest first, with ``cell`` and, if ``residual``, ``qc`` =
    q·centers[cell]; with ``codebooks``, the ADC lookup tables
    ``lut_s[j]`` = q_s·codebooks[s][j]. Every dot is a :func:`_fold_dot`;
    the probe distance is ``kmeans._sqdist``'s fold, and the stable sort
    sends a tie to the smaller cell, as Spark's stable ``array_sort`` did."""
    from .kmeans import _sqdist

    query = np.arange(len(batch.ids))
    out = {}
    if centers is not None:
        cent = np.array(centers, dtype=np.float64)
        qv = batch.vectors(cent.shape[1])
        probe = np.argsort(_sqdist(qv, cent), axis=1, kind="stable")[:, :n_probe]
        query = np.repeat(query, probe.shape[1])
        out["cell"] = probe.ravel().astype(np.int32)
        if residual:
            qc = _fold_dot(qv[:, None, :], cent[None, :, :])
            out["qc"] = qc[query, out["cell"]]
    if codebooks is not None:
        books = [np.array(b, dtype=np.float64) for b in codebooks]
        sub = books[0].shape[1]
        qv = batch.vectors(sub * len(books))
        for s, book in enumerate(books):
            lut = _fold_dot(qv[:, None, s * sub : (s + 1) * sub], book[None, :, :])
            out[f"lut{s}"] = lut[query]
    return {"query": query, **out}


def _arrow_column(a: np.ndarray):
    """A 1-D array as an Arrow column; the rows of a 2-D one as lists."""
    if a.ndim == 1:
        return pa.array(a)
    offsets = np.arange(len(a) + 1, dtype=np.int32) * a.shape[1]
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(np.ravel(a)))


def _query_state(
    spark: SparkSession, batch: QueryBatch, *args, **kwargs
) -> DataFrame:
    """:func:`_query_arrays` as ONE local relation (``query_id``, ``qv``,
    ``qn``, then its columns past ``query``): Spark builds and broadcasts
    it with no job, and the plan holds no centroid or codebook value.
    Size: |Q|·n_probe rows of d + m·n_codes doubles (10 queries × 12
    probes at d=64, m=16, 16 codes: ~300 KB)."""
    cols = _query_arrays(batch, *args, **kwargs)
    query = cols.pop("query")
    table = pa.table(
        {
            "query_id": pa.array([batch.ids[i] for i in query]),
            "qv": _arrow_column(batch.qv[query]),
            "qn": _arrow_column(batch.qn[query]),
            **{c: _arrow_column(a) for c, a in cols.items()},
        }
    )
    ddl = {"query_id": batch.id_type.simpleString(), "cell": "int"}
    ddl.update(qn="double", qc="double")
    schema = (f"{c} {ddl.get(c, 'array<double>')}" for c in table.column_names)
    return spark.createDataFrame(table, ", ".join(schema))


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
       in to skip it. The trainer is the deterministic grid-exact
       Lloyd operator (operators/kmeans.py; on a bounded sample the
       driver-local ``_fit_local``, bit-equal by test to the Spark
       Lloyd step ``kmeans_fixed_assign`` hash-checks): the quantizer
       is pure data (k×dim grid ints), byte-stable per (corpus, config);
    2. assign every candidate to its nearest centroid IN-ROW (zero
       shuffle — ``DeterministicKMeans.with_cell``);
    3. per query of the bounded batch (collected once, ranked on the
       driver), probe the top ``n_probe`` cells via an equi-join on
       cell id — work scales with corpus/n_centroids × n_probe, never
       |Q|·|C|.

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

    cand = _vectors(spread_for_compute(candidates), id_col, vec_col)
    return model.with_cell(cand, vec_col="cv").select(
        "candidate_id", "cv", "cn", "cell"
    )


def probe_cell_ids(
    queries: DataFrame | QueryBatch,
    model,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Distinct probed cell ids of a bounded query batch, sorted — the
    STATIC partition-pruning input of ``index_pipeline.load_ann_index``'s
    ``cells`` filter, at most min(|Q|·n_probe, k) ints. A
    :class:`QueryBatch` costs no Spark job (numpy folds over the batch
    and the k centers); a DataFrame is collected first."""
    batch = collect_queries(queries, id_col, vec_col)
    cells = _query_arrays(batch, model.clusterCenters(), n_probe)["cell"]
    return sorted({int(c) for c in cells})


def ivf_search(
    queries: DataFrame | QueryBatch,
    index: DataFrame,
    model,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-time half of the IVF path: rank the k cells per query on
    the driver, probe the top ``n_probe`` cells via an equi-join on cell
    id, exact-cosine rank within the probed shortlist. ``queries`` is a
    bounded batch (a :class:`QueryBatch` or a DataFrame collected once
    here); ``index`` is any frame produced by :func:`ivf_index` —
    freshly built, loaded from parquet, or a union of both (the
    incremental path)."""
    batch = collect_queries(queries, id_col, vec_col)
    probed = _query_state(index.sparkSession, batch, model.clusterCenters(), n_probe)
    sims = probed.join(index, "cell").select(
        "query_id",
        "candidate_id",
        _pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cosine"),
    )
    return _top_k(sims, k)


def _band_coded(
    df: DataFrame,
    n_planes: int,
    band_width: int,
    dim: int,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    max_bucket_size: int | None,
) -> DataFrame:
    """(vid, lbl, v, n, band, code): one row per vector and sign-LSH
    band, repartitioned on the band-join keys, hot buckets dropped."""
    if n_planes % band_width != 0:
        raise ValueError("n_planes must be a multiple of band_width")
    planes = _hyperplanes(dim, n_planes)
    n_bands = n_planes // band_width

    base = df.select(
        F.col(id_col).alias("vid"),
        *([F.col(label_col).alias("lbl")] if label_col else [F.lit(0).alias("lbl")]),
        as_double_array(F.col(vec_col)).alias("v"),
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
        # cap on the FULL bucket population — an incremental run sees
        # the same hot buckets whichever batch is looking
        hot = (
            coded.groupBy("lbl", "band", "code")
            .agg(F.count("*").alias("_m"))
            .where(F.col("_m") > max_bucket_size)
            .select("lbl", "band", "code")
        )
        coded = coded.join(F.broadcast(hot), ["lbl", "band", "code"], "left_anti")
    return coded


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
    coded = _band_coded(
        df, n_planes, band_width, dim, id_col, vec_col, label_col, max_bucket_size
    )
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
    coded = _band_coded(
        df, n_planes, band_width, dim, id_col, vec_col, label_col, max_bucket_size
    )
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


def _adc_dot_expr(m: int):
    """Σ_s LUT_s[code_s]: m element_at calls per pair, independent of
    the raw dimension."""
    return F.expr(" + ".join(f"element_at(lut{s}, code{s} + 1)" for s in range(m)))


def _require_rows(n_rows: int, caller: str) -> None:
    if not n_rows:
        raise ValueError(
            f"{caller}: candidate frame is empty — cannot fit the "
            "quantizers; pass prefit ones or a non-empty corpus"
        )


def _pq_sample_target(n_codes: int) -> int:
    """Codebook training-sample target: 256 rows per code (FAISS). A
    code is one byte, so at most 256 codes — which also bounds the
    driver-held sample at 1.2·256·n_codes rows."""
    if not 1 <= n_codes <= 256:
        raise ValueError(f"n_codes={n_codes}: a PQ code is one byte (1 to 256 codes)")
    return 256 * n_codes


def _subspace_dim(dim: int, m: int) -> int:
    """Dims per PQ subspace. A raise, not an assert: under ``python -O``
    a dim not divisible by m would silently drop the trailing dims from
    every code."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return sub


def pq_topk(
    queries: DataFrame | QueryBatch,
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
       subspace — dot(q_s, centroid_{s,j}) for all j, computed on the
       driver over the collected bounded batch — so the pair join
       evaluates approx_dot = Σ_s LUT_s[code_s]: m element_at calls per
       pair, independent of D;
    4. rank by approximate cosine (approx_dot / (‖q‖·‖ĉ‖)).

    At 100 TB this composes with IVF (probe cells first, ADC inside
    the probed cells) — here it runs flat so the recall gate measures
    PQ alone. Returns (results_df, models).
    """
    from .kmeans import pq_encode
    from .skew import spread_for_compute

    cand = _vectors(spread_for_compute(candidates), id_col, vec_col, norm=False)
    if models is None:
        models = fit_pq_codebooks(cand, None, m, n_codes, cand.count(), seed)

    codebooks = _pq_codebooks(models)
    encoded = pq_encode(cand, codebooks, "cv").select(
        "candidate_id", *[f"code{s}" for s in range(m)], "chat_norm"
    )

    q = _query_state(
        candidates.sparkSession,
        collect_queries(queries, id_col, vec_col),
        codebooks=codebooks,
    )
    approx_dot = _adc_dot_expr(m)
    sims = q.crossJoin(F.broadcast(encoded)).select(
        "query_id",
        "candidate_id",
        (approx_dot / (F.col("qn") * F.col("chat_norm"))).alias("approx_cosine"),
    )
    return _top_k(sims, k, "approx_cosine"), models


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
    batch = collect_queries(queries, id_col, vec_col)
    short, models = pq_topk(
        batch,
        candidates,
        k=shortlist,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        models=models,
    )
    q = _query_state(candidates.sparkSession, batch)
    return _exact_rerank(short, candidates, q, k, id_col, vec_col), models


def fit_pq_codebooks(
    cand: DataFrame,
    coarse,
    m: int,
    n_codes: int,
    n_rows: int,
    seed: int = 42,
    residual: bool = False,
) -> list:
    """Fit the m per-subspace PQ codebooks of ``cand``, a
    (candidate_id, cv) frame of double arrays with ``n_rows`` rows.

    Invariant: the codebooks are a pure function of (corpus, coarse,
    m, n_codes, seed), bit-identical to fitting the same sample with
    Spark's ``quantize_vec`` and ``with_cell`` (tested against both):

    - the sample is the seeded Bernoulli sample of ``cand`` (~1.2·256
      rows per code; every row when ``n_rows`` is at most 256 per
      code), collected once through Arrow;
    - ``residual=True`` trains on x − centers[cell]: the nearest cell
      is :func:`kmeans._sqdist`'s exact int64 argmin over the quantized
      rows (ties to the smaller cell, as ``with_cell``), the centers
      are ``coarse.clusterCenters()``;
    - each contiguous subspace is quantized with the exact HALF_UP
      (:func:`kmeans._round_half_up`) and fit by ``_fit_local``.

    The preparation runs on the driver because the sample is bounded:
    in Spark (``with_cell``, a broadcast join of the centers,
    ``zip_with``, then a slice and ``quantize_vec`` per subspace) it
    took ~1.6 s of a 2.5 s warm fit on the ``ann_serve`` corpus (4
    cores), more than the m fits themselves. ``n_codes`` above 256 and
    an empty frame raise ``ValueError`` before any job; a dim not
    divisible by m raises once the sample shows the dim."""
    from .kmeans import GRID_Q, _fit_local, _round_half_up, _sqdist

    target = _pq_sample_target(n_codes)
    _require_rows(n_rows, "fit_pq_codebooks")
    if n_rows > target:
        cand = cand.sample(fraction=min(1.0, 1.2 * target / n_rows), seed=seed)
    rows = cand.select("candidate_id", "cv").toArrow()
    ids = rows.column("candidate_id").to_pylist()
    x = rows.column("cv").combine_chunks().flatten().to_numpy()
    x = x.astype(np.float64).reshape(len(ids), -1)
    if residual:
        cell = _sqdist(_round_half_up(x * coarse.q), np.array(coarse.centers_q))
        x = x - np.array(coarse.clusterCenters())[cell.argmin(axis=1)]
    sub = _subspace_dim(x.shape[1], m)
    return [
        _fit_local(
            list(zip(ids, _round_half_up(x[:, s * sub : (s + 1) * sub] * GRID_Q))),
            n_codes,
            4,
            GRID_Q,
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
    cand = _vectors(spread_for_compute(candidates), id_col, vec_col, norm=False)
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
    queries: DataFrame | QueryBatch,
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
    on Spark): route each query to its ``n_probe`` nearest cells,
    ADC-scan ONLY the probed cells' codes (m table lookups per scanned
    code — work tracks corpus/n_centroids × n_probe, never |Q|·|C|, and
    the scan touches 8-byte codes, not vectors), shortlist per query,
    then exact-cosine re-rank of the shortlist against the full vectors
    read from ``corpus``. The only stage that touches uncompressed
    embeddings is the shortlist·|Q| re-rank join.

    ``queries`` is a BOUNDED batch — a :class:`QueryBatch` or a
    DataFrame collected once here: the driver holds its |Q|·d doubles
    and computes the probe ranking, the m lookup tables and the norms
    (:func:`_query_state`), so keep |Q| in the thousands at most. The
    plan carries no codebook or centroid value.

    ``residual=True`` decodes an index built with residual encoding:
    dot(q, chat) = dot(q, centroid[cell]) + dot(q, rhat). The first
    term ``qc`` is per (query, probed cell) — |Q|·n_probe folds on the
    driver; the second is the usual per-code ADC lookup (the LUTs are
    against the residual codebooks, same m element_at per pair)."""
    batch = collect_queries(queries, id_col, vec_col)
    spark = index.sparkSession
    codebooks = _pq_codebooks(models)
    probed = _query_state(
        spark, batch, coarse.clusterCenters(), n_probe, codebooks, residual
    )
    # ADC as element_at over LUT arrays held as data. Raced against an
    # Arrow kernel with the |Q|×m×n_codes LUTs in its closure (10k×64-d,
    # 16 cells, 10-query batches, 13 interleaved pairs, 4 cores): median
    # search CPU, Python workers included, 4.28 s here vs 4.42 s, wall
    # 1.50 vs 1.63 s (the kernel's driver + JVM CPU alone read 3.15 vs
    # 3.39 s, with ~1.2 s moved into Python workers).
    adc = _adc_dot_expr(len(codebooks))
    if residual:
        adc = F.col("qc") + adc
    sims = probed.join(index, "cell").select(
        "query_id",
        "candidate_id",
        (adc / (F.col("qn") * F.col("chat_norm"))).alias(
            "approx_cosine"
        ),
    )
    short = _top_k(sims, shortlist, "approx_cosine")
    q = _query_state(spark, batch)
    return _exact_rerank(short, corpus, q, k, id_col, vec_col)


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

    One count of ``candidates`` feeds both fits; the coarse quantizer
    is fit first, since the residual codebooks train on its cells.
    Returns (coarse, models)."""
    from .kmeans import fit_deterministic_kmeans

    if models is None:
        _pq_sample_target(n_codes)  # a bad n_codes raises before any job
    elif coarse is not None:
        return coarse, models
    n_rows = candidates.count()
    _require_rows(n_rows, "fit_ivfpq_quantizers")
    if coarse is None:
        coarse = fit_deterministic_kmeans(
            candidates,
            k=n_centroids,
            n_iters=4,
            id_col=id_col,
            vec_col=vec_col,
            sample_rows=256 * n_centroids,
            seed=seed,
            n_rows=n_rows,
        )
    if models is None:
        models = fit_pq_codebooks(
            _vectors(candidates, id_col, vec_col, norm=False),
            coarse,
            m=m,
            n_codes=n_codes,
            n_rows=n_rows,
            seed=seed,
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
