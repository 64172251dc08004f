"""Deterministic Lloyd k-means on a fixed integer grid.

The clustering primitive under the IVF coarse quantizer, the PQ
codebooks and the SemDeDup family, and the arithmetic the
``kmeans_fixed_assign`` hash-checked differential (plans/llm_queries.py)
runs through the same Lloyd step.

Why a bespoke trainer instead of Spark ML's KMeans:

- **Determinism / auditability.** Vectors quantize to a 1e-4 grid
  (``round(x * 10000)`` as int64), so squared distances are EXACT
  long arithmetic (64-dim grid values bound dist² ≤ ~3.4e10, far
  inside int64) and the argmin with ties to the smaller cid is
  reproducible bit-for-bit across engines, sessions, partitionings,
  and cluster sizes. Spark ML's kmeans|| init + float distances are
  run-stable only per JVM build, and the fitted model is an opaque
  JVM object. A quantizer whose centers are 1024 small integers can
  be hash-checked, diffed between index builds, and persisted as a
  kilobyte of JSON.
- **One kernel per step.** Assignment is :func:`inrow_assign`, one
  narrow Arrow projection against driver-held centers (no join, no
  shuffle). A Lloyd round on Spark is :func:`_lloyd_step`: that
  assignment fused with the (cluster, dim) exact-long-sum shuffle,
  collected as ≤ k·dim rows, the means rounded back to the grid on
  the driver. The driver holds k×dim longs (the centers), plus, when
  the training sample is bounded, the sample itself:
  :func:`_fit_local` runs the same arithmetic in numpy (bit-equal by
  test) because a few dozen sequential jobs on a 4096-row sample are
  pure scheduler overhead.
- **Centers round BACK to the grid** after each mean, so the next
  iteration's distances stay exact int64 regardless of cluster size
  (true rational centers would need 128-bit cross-multiplies to
  compare exactly).

Empty clusters keep their previous center (deterministic, and the
FAISS behavior for dead centroids at small k).
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 1e-4 grid: embeddings land in [-1, 1], so grid values are ≤ 10^4 in
# magnitude and 64-dim squared distances stay ≤ ~2.6e9 — exact int64.
GRID_Q = 10000


def quantize_vec(col, q: int = GRID_Q):
    """array<double> → array<long> on the 1/q grid. Spark's F.round is
    HALF_UP on the double's exact value; the DuckDB oracle applies its
    ROUND to the same doubles and the kmeans_fixed_assign differential
    hash-checks that the engines agree on this data."""
    return F.transform(col, lambda x: F.round(x.cast("double") * q).cast("long"))


class DeterministicKMeans:
    """A fitted deterministic quantizer: k centers on the 1/q grid.

    Pure data (k×dim int64 + the grid) — session-independent, unlike
    a fitted Spark ML model (a handle into its JVM), and persisted as
    a kilobyte of JSON by :meth:`save` / :meth:`load`. The IVF path
    reads ``clusterCenters()`` and assigns with :meth:`with_cell`."""

    def __init__(self, centers_q: list[list[int]], q: int = GRID_Q):
        self.centers_q = [list(map(int, c)) for c in centers_q]
        self.q = int(q)

    def clusterCenters(self) -> list[list[float]]:  # noqa: N802 (ML parity)
        return [[x / self.q for x in c] for c in self.centers_q]

    def with_cell(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        out_col: str = "cell",
    ) -> DataFrame:
        """Append the nearest-center cell column IN-ROW (zero shuffle,
        zero join — the scale path for corpus assignment and for
        incremental index updates: new vectors meet the persisted
        centers with no refit and no wide stage).

        Quantizes JVM-side (so the HALF_UP grid round is identical),
        then :func:`inrow_assign` does the exact-int64 argmin in Arrow
        batches. Arrow, not a SQL fold over the k×d literal: Spark
        higher-order functions run interpreted, so the fold measured
        4× slower at sf0.1 (1.0 s vs 0.24 s for the corpus pass).
        ``out_col`` is cast to ``int`` so index schemas and ``cell=``
        partition directories keep their type."""
        xq = df.withColumn("_xq", quantize_vec(F.col(vec_col), self.q))
        return (
            inrow_assign(
                xq, list(enumerate(self.centers_q)), xq_col="_xq", cell_col=out_col
            )
            .withColumn(out_col, F.col(out_col).cast("int"))
            .drop("_xq")
        )

    def save(self, path: str) -> None:
        write_json_atomic(path, {"q": self.q, "centers_q": self.centers_q})

    @classmethod
    def load(cls, path: str) -> "DeterministicKMeans":
        with open(path) as fh:
            doc = json.load(fh)
        return cls(doc["centers_q"], q=doc["q"])


def write_json_atomic(path: str, doc) -> None:
    """Write ``doc`` as JSON to ``path`` through a sibling temp file and
    ``os.replace``: a reader (or a crash mid-dump) sees the old file or
    the new one, never a truncated one."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _sqdist(x, centers):
    """Squared distances of rows ``x`` (n×d) to ``centers`` (k×d) as an
    n×k matrix — the one numpy nearest-center kernel
    (:func:`inrow_assign`, :func:`_fit_local` and, once per subspace,
    :func:`pq_encode`).

    Invariant: the sum folds LEFT TO RIGHT over the d dims, one
    ``acc + (x_j - c_j)²`` at a time — the order of the SQL
    ``aggregate(zip_with(...), 0D, ...)`` fold, so float64 distances
    (and hence argmins) are bit-identical to it. A pairwise
    ``.sum(axis=...)`` is not: it changes the last bit on most float
    rows. On int64 grid vectors every order is exact."""
    acc = (x[:, :1] - centers[:, 0]) ** 2
    for j in range(1, x.shape[1]):
        acc += (x[:, j, None] - centers[None, :, j]) ** 2
    return acc


def pq_encode(
    frame: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """Product-quantization encode, in-row: append ``code0..code{m-1}``
    (int, the nearest codeword per contiguous subspace of ``vec_col``)
    and ``chat_norm`` (double, the norm of the reconstruction).

    One narrow ArrowEvalPython projection; the m codebooks (and the
    coarse ``centers``) are numpy constants in the UDF closure, so the
    plan carries no literal and the corpus streams through untouched.
    Every code is :func:`_sqdist` per subspace + ``argmin`` — ties go
    to the smaller code (numpy takes the FIRST minimum).

    - ``centers=None`` (raw): encodes ``x``; ``chat_norm`` is the sqrt
      of the left fold over s of each chosen codeword's ‖·‖².
    - ``centers`` given (residual, FAISS IndexIVFPQ): reads the
      ``cell`` column, encodes ``x − centers[cell]`` and stores
      ‖centers[cell] + decode(codes)‖ folded left over the d dims.

    All folds run left to right, so codes and ``chat_norm`` equal the
    SQL-fold evaluation of the same arithmetic bit for bit."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m, sub = len(books), books[0].shape[1]
    cent = None if centers is None else np.array(centers, dtype=np.float64)
    names = [f"code{s}" for s in range(m)]
    schema = ", ".join(f"{n} int" for n in names) + ", chat_norm double"

    def sqnorm(a):  # ‖a_i‖² = squared distance to the origin, same fold
        return _sqdist(a, np.zeros((1, a.shape[1])))[:, 0]

    book_sq = [sqnorm(b) for b in books]

    @F.pandas_udf(schema)
    def _pq_encode(v: pd.Series, cell: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame(
                {
                    **{n: pd.Series(dtype="int32") for n in names},
                    "chat_norm": pd.Series(dtype="float64"),
                }
            )
        x = np.array(v.tolist(), dtype=np.float64)
        if cent is not None:
            base = cent[cell.to_numpy()]
            x = x - base
        codes = [
            _sqdist(x[:, s * sub : (s + 1) * sub], books[s]).argmin(axis=1)
            for s in range(m)
        ]
        if cent is None:
            n2 = book_sq[0][codes[0]]
            for s in range(1, m):
                n2 = n2 + book_sq[s][codes[s]]
        else:
            decoded = np.concatenate([books[s][codes[s]] for s in range(m)], axis=1)
            n2 = sqnorm(base + decoded)
        out = {n: c.astype(np.int32) for n, c in zip(names, codes)}
        out["chat_norm"] = np.sqrt(n2)
        return pd.DataFrame(out)

    # raw mode reads no cell: a constant stands in for the column
    cell = F.col("cell") if cent is not None else F.lit(0)
    out = frame.withColumn("_pq", _pq_encode(vec_col, cell))
    return out.select(
        *frame.columns, *[F.col(f"_pq.{n}").alias(n) for n in [*names, "chat_norm"]]
    )


def inrow_assign(
    frame: DataFrame,
    centers: list[tuple[int, list[int]]],
    xq_col: str = "xq",
    cell_col: str = "cell",
    dist_col: str | None = None,
) -> DataFrame:
    """Nearest-center assignment against DRIVER-HELD centers, in-row:
    the one assignment kernel of the k-means tier.

    ``centers`` is an ascending-cid ``(cid, grid_vector)`` list (cids
    need not be dense — the SemDeDup family seeds cells with vec_ids).
    Appends ``cell_col`` (and optionally the exact int64 squared
    distance) with NO join and NO shuffle: one narrow ArrowEvalPython
    projection (``DeterministicKMeans.with_cell`` is this call with
    dense cids). Exact int64 arithmetic; ties go to the smaller cid
    (numpy argmin takes the FIRST extremum and the centers arrive
    cid-ascending) — tested against a plain-Python argmin in
    tests/test_kmeans_operator.py.

    The centers are index artifacts (k ≤ hundreds of rows of ints),
    never data — every executor holds them as numpy constants, the
    corpus streams through untouched."""
    import numpy as np

    cent = np.array([c for _, c in centers], dtype=np.int64)
    cids = np.array([cid for cid, _ in centers], dtype=np.int64)

    if dist_col is None:

        @F.pandas_udf("bigint")
        def _cell(batch: pd.Series) -> pd.Series:
            if not len(batch):
                return pd.Series(np.array([], dtype=np.int64))
            x = np.array(batch.tolist(), dtype=np.int64)
            return pd.Series(cids[_sqdist(x, cent).argmin(axis=1)])

        return frame.withColumn(cell_col, _cell(xq_col))

    @F.pandas_udf("c bigint, d bigint")
    def _assign(batch: pd.Series) -> pd.DataFrame:
        if not len(batch):
            return pd.DataFrame(
                {
                    "c": pd.Series(dtype="int64"),
                    "d": pd.Series(dtype="int64"),
                }
            )
        d2 = _sqdist(np.array(batch.tolist(), dtype=np.int64), cent)
        a = d2.argmin(axis=1)
        return pd.DataFrame(
            {"c": cids[a], "d": d2[np.arange(len(a)), a]}
        )

    out = frame.withColumn("_ac", _assign(xq_col))
    return out.select(
        *[c for c in frame.columns],
        F.col("_ac.c").alias(cell_col),
        F.col("_ac.d").alias(dist_col),
    )


def _lloyd_step(
    e: DataFrame, centers: list[tuple[int, list[int]]], xq_col: str = "xq"
) -> list[tuple[int, list[int]]]:
    """One Lloyd round on Spark against driver-held ``centers``: the
    :func:`inrow_assign` assignment fused into the same stage as the
    posexplode, one (cell, dim) exact-int64 sum/count shuffle collected
    as ≤ k·dim rows, and the grid means rounded on the driver with
    Spark's HALF_UP (:func:`_round_half_up` on the same double
    division). Returns the NON-EMPTY (cid, center) list in ascending-cid
    order; callers decide what an empty cell keeps."""
    sums = (
        inrow_assign(e, centers, xq_col=xq_col, cell_col="_c")
        .select("_c", F.posexplode(xq_col).alias("i", "x"))
        .groupBy("_c", "i")
        .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    acc: dict[int, dict[int, int]] = {}
    for r in sums:
        acc.setdefault(int(r["_c"]), {})[int(r["i"])] = int(
            _round_half_up(float(int(r["s"])) / int(r["n"]))
        )
    return [
        (cid, [dims[i] for i in range(len(dims))])
        for cid, dims in sorted(acc.items())
    ]


def two_iter_lloyd_centers(
    e: DataFrame, k: int, id_col: str = "vec_id", xq_col: str = "xq"
) -> list[tuple[int, list[int]]]:
    """The SemDeDup-family trainer: seeds = the k smallest-id quantized
    rows (a k-row ordered take), then ONE :func:`_lloyd_step` — the
    unrolled two-iteration form the family's DuckDB oracles mirror.

    Returns the NON-EMPTY (cid, center) list in ascending-cid order
    (cids are the seed ids). Empty input → []."""
    seed_rows = e.orderBy(id_col).limit(k).collect()
    if not seed_rows:
        return []
    seeds = [(int(r[id_col]), [int(x) for x in r[xq_col]]) for r in seed_rows]
    seeds.sort(key=lambda t: t[0])
    return _lloyd_step(e, seeds, xq_col)


def _round_half_up(x):
    """Exact replica of Spark's ``F.round(double)`` (BigDecimal
    HALF_UP: halves away from zero) for the |x| ≤ 1e4 grid range, on a
    double or elementwise on an array of them → int64. It is the one
    step of local Lloyd that is not integer arithmetic, and with a
    ``* q`` in front it is :func:`quantize_vec` on the driver.

    The fraction ``|x| − floor(|x|)`` is exact, so it is compared with
    0.5 on the double's own value; ``floor(x + 0.5)`` is not exact
    (0.49999999999999994 + 0.5 rounds to 1.0)."""
    import numpy as np

    a = np.abs(x)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), x).astype(np.int64)


def _fit_local(ids_xq, k: int, n_iters: int, q: int) -> DeterministicKMeans:
    """Driver-local Lloyd over an already-quantized, BOUNDED training
    sample (≤ local_cap rows — a few MB of int64).

    Produces bit-identical centers to the distributed loop: the
    vectors were quantized with the same HALF_UP rounding (Spark's
    :func:`quantize_vec`, or :func:`_round_half_up` on the driver), all
    distances and sums are exact int64, argmin/argmax tie-breaks
    replicate the smaller-cid / smallest-id rules (rows sorted by id;
    numpy argmin/argmax take the FIRST extremum), and the center mean
    replays Spark's double division + HALF_UP round
    (``test_kmeans_operator`` asserts local ≡ distributed). Exists
    because the distributed loop costs (k-1) seeding jobs plus a
    shuffle per round — sequential stages that are pure scheduling
    overhead on a 4096-row sample (the PQ path fits m=16 codebooks)."""
    import numpy as np

    ids_xq.sort(key=lambda r: r[0])
    X = np.array([r[1] for r in ids_xq], dtype=np.int64)
    centers = X[:1].copy()
    mind = _sqdist(X, centers)[:, 0]
    while centers.shape[0] < k:
        nxt = X[int(mind.argmax())]
        centers = np.vstack([centers, nxt])
        mind = np.minimum(mind, _sqdist(X, centers[-1:])[:, 0])
    for _ in range(n_iters):
        a = _sqdist(X, centers).argmin(axis=1)
        for cid in range(centers.shape[0]):
            members = X[a == cid]
            if members.shape[0]:
                # int64 sums / count: the same double division per dim
                centers[cid] = _round_half_up(members.sum(axis=0) / members.shape[0])
    return DeterministicKMeans([list(map(int, c)) for c in centers], q=q)


def fit_deterministic_kmeans(
    df: DataFrame,
    k: int,
    n_iters: int = 4,
    q: int = GRID_Q,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int | None = None,
    seed: int = 42,
    n_rows: int | None = None,
    local_cap: int = 65536,
) -> DeterministicKMeans:
    """Fit k centers: farthest-point seeding, then ``n_iters`` Lloyd
    rounds (assign + recompute).

    The fit is a pure function of (corpus, k, n_iters, q, sample
    config). When ``sample_rows`` is set, training runs on a seeded
    Bernoulli sample (the FAISS discipline: the quantizer needs cluster
    geometry, which ~256 points/centroid capture; a full-corpus fit at
    100 TB is both unaffordable and unnecessary) — pass ``n_rows`` if
    the caller already knows the corpus size, else one narrow count
    runs.

    When the training frame is bounded (≤ ``local_cap`` rows, the
    normal FAISS-style sampled index build) the quantized sample is
    collected once and :func:`_fit_local` runs the arithmetic on the
    driver. Otherwise each seed is one bounded ordered take and each
    round one :func:`_lloyd_step`, collecting k×dim longs — the same
    footprint ``clusterCenters()`` always had, never a corpus collect.
    ``local_cap=0`` forces the Spark loop.
    """
    fit = df.select(id_col, quantize_vec(F.col(vec_col), q).alias("xq"))
    if n_rows is None:
        n_rows = fit.count()
    if sample_rows is not None and n_rows > sample_rows:
        # seeded Bernoulli → deterministic per corpus; 1.2× headroom
        # keeps the expected sample above target
        fit = fit.sample(fraction=min(1.0, 1.2 * sample_rows / n_rows), seed=seed)
        est = int(1.2 * sample_rows)
    else:
        est = n_rows
    if est <= local_cap:
        return _fit_local([(r[0], list(r[1])) for r in fit.collect()], k, n_iters, q)

    # Deterministic farthest-point (Gonzalez k-center) seeding: start
    # from the smallest-id row, then greedily take the row maximizing
    # the exact min-distance to the chosen set (ties → smallest id).
    # Naive smallest-id-k seeding measurably converges to worse local
    # optima (IVF recall dipped 0.8 → 0.6 on one query at sf0.01);
    # farthest-point spreads seeds like kmeans|| does, deterministically.
    # A row's min-distance is its in-row assignment distance; with fewer
    # distinct rows than k the farthest row sits at distance 0 and
    # repeats a seed.
    first = fit.orderBy(id_col).limit(1).select("xq").collect()
    if not first:
        raise ValueError("empty corpus")
    centers = [list(first[0].xq)]
    while len(centers) < k:
        far = (
            inrow_assign(fit, list(enumerate(centers)), cell_col="_c", dist_col="_d")
            .orderBy(F.desc("_d"), F.asc(id_col))
            .limit(1)
            .select("xq")
            .collect()
        )
        centers.append(list(far[0].xq))

    for _ in range(n_iters):
        new = dict(_lloyd_step(fit, list(enumerate(centers))))
        # empty clusters keep their previous center (deterministic)
        centers = [new.get(i, centers[i]) for i in range(k)]

    return DeterministicKMeans(centers, q=q)
