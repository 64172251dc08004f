"""Deterministic k-means operator (operators/kmeans.py) — the trainer
under the IVF coarse quantizer and the SemDeDup family, and the Lloyd
step hash-checked by the ``kmeans_fixed_assign`` differential.

Covers: the in-row assignment kernel and the Spark Lloyd step against
the plain-Python reference (tests/kmeans_reference.py), the driver-local
fit against the Spark loop, the Spark jobs a fit and the differential
submit, byte-stable refits, JSON persistence round-trip, and the Arrow
PQ encode kernel against a pure-Python left-fold reference.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from soccer_data_pipeline_spark.operators.kmeans import (
    DeterministicKMeans,
    fit_deterministic_kmeans,
    inrow_assign,
    quantize_vec,
    two_iter_lloyd_centers,
)
from soccer_data_pipeline_spark.sources import load_table

from .kmeans_reference import lloyd_step, nearest
from .test_index_pipeline import _jobs_submitted

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def _quantized(spark):
    """(vec_id, xq) of the corpus, and the same rows as {vec_id: xq}."""
    e = _emb(spark).select("vec_id", quantize_vec(F.col("embedding")).alias("xq"))
    return e, {r.vec_id: list(r.xq) for r in e.collect()}


def test_with_cell_matches_python_argmin(spark):
    """with_cell (the zero-shuffle Arrow kernel over dense cids) is the
    exact integer argmin of the plain-Python reference, ties to the
    smaller cid."""
    emb = _emb(spark)
    model = fit_deterministic_kmeans(emb, k=8, n_iters=2)
    _, xq = _quantized(spark)
    cents = dict(enumerate(model.centers_q))
    got = {
        r.vec_id: r.cell for r in model.with_cell(emb).select("vec_id", "cell").collect()
    }
    assert got == {vid: nearest(x, cents)[1] for vid, x in xq.items()}


def test_fit_is_deterministic(spark):
    m1 = fit_deterministic_kmeans(_emb(spark), k=8, n_iters=2, sample_rows=200)
    m2 = fit_deterministic_kmeans(_emb(spark), k=8, n_iters=2, sample_rows=200)
    assert m1.centers_q == m2.centers_q


def test_json_roundtrip(spark, tmp_path):
    model = fit_deterministic_kmeans(_emb(spark), k=4, n_iters=2)
    path = str(tmp_path / "quantizer.json")
    model.save(path)
    loaded = DeterministicKMeans.load(path)
    assert loaded.centers_q == model.centers_q
    assert loaded.q == model.q
    a = model.with_cell(_emb(spark)).select("vec_id", "cell").collect()
    b = loaded.with_cell(_emb(spark)).select("vec_id", "cell").collect()
    assert set(a) == set(b)


def test_empty_cluster_keeps_previous_center(spark):
    """A cluster that loses all members keeps its previous center
    (deterministic dead-centroid behavior): with every vector
    identical, farthest-point seeding repeats the first row and all rows
    assign to cid 0 (tie → smaller cid), so cells 1..k-1 go empty and
    must retain their seed centers."""
    emb = _emb(spark).limit(8)
    const = emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda _: F.lit(0.5)).alias("embedding")
    )
    model = fit_deterministic_kmeans(const, k=4, n_iters=2)
    assert len(model.centers_q) == 4
    seed = [5000] * len(model.centers_q[0])
    assert all(c == seed for c in model.centers_q)


def test_inrow_assign_plan_has_no_shuffle(spark):
    """The corpus assignment (with_cell) must be narrow: no Exchange,
    no Join — the Arrow kernel adds only an ArrowEvalPython
    (batch-local). Its cell column stays IntegerType, so index schemas
    and partition directories keep their type."""
    from pyspark.sql.types import IntegerType

    emb = _emb(spark)
    model = fit_deterministic_kmeans(emb, k=4, n_iters=1)
    out = model.with_cell(emb.select("vec_id", "embedding"))
    assert out.schema["cell"].dataType == IntegerType()
    assert out.columns == ["vec_id", "embedding", "cell"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_local_fit_equals_distributed_fit(spark):
    """The driver-local fast path (_fit_local, used whenever the
    training sample is bounded) must be BIT-EQUAL to the Spark loop:
    same Spark-side quantization, exact int64 distances, same
    tie-breaks, and a replicated HALF_UP center round. local_cap=0
    forces the Spark loop for the comparison."""
    emb = _emb(spark)
    local = fit_deterministic_kmeans(emb, k=8, n_iters=3)
    dist = fit_deterministic_kmeans(emb, k=8, n_iters=3, local_cap=0)
    assert local.centers_q == dist.centers_q


def test_inrow_assign_explicit_cids_matches_python_argmin(spark):
    """inrow_assign over explicit non-dense cids with the distance
    column (the shape the SemDeDup family assigns through) equals the
    plain-Python reference: exact int64 distance, ties to the smaller
    cid, long cell/dist columns."""
    e, xq = _quantized(spark)
    # non-dense cids (vec_ids of the 8 smallest rows — the SemDeDup
    # seeding), and deliberately-colliding centers to exercise ties
    seeds = [(vid, xq[vid]) for vid in sorted(xq)[:8]]
    seeds[3] = (seeds[3][0], list(seeds[2][1]))  # duplicate center → ties
    ours = {
        (r.vec_id, r.cell, r.dist_q2)
        for r in inrow_assign(e, seeds, dist_col="dist_q2")
        .select("vec_id", "cell", "dist_q2")
        .collect()
    }
    cents = dict(seeds)
    ref = {(vid, *nearest(x, cents)[::-1]) for vid, x in xq.items()}
    assert ours == ref
    cells = {c for _, c, _ in ours}
    assert seeds[2][0] in cells and seeds[3][0] not in cells


def test_two_iter_lloyd_centers_matches_python_lloyd(spark):
    """two_iter_lloyd_centers (k smallest-id seeds, one Spark Lloyd
    step) equals the plain-Python Lloyd round: non-empty cells only,
    ascending cid, identical grid-rounded means."""
    e, xq = _quantized(spark)
    for k in (3, 8):
        seeds = {vid: xq[vid] for vid in sorted(xq)[:k]}
        assert two_iter_lloyd_centers(e, k) == sorted(lloyd_step(xq, seeds).items()), k


def test_spark_lloyd_job_counts(spark):
    """Job pins at sf0.001: the Spark fit (local_cap=0, k=8, 3 rounds)
    is a count, 8 seed takes and one Lloyd step per round (a shuffle
    and its collect); the kmeans_fixed_assign differential is a seed
    collect, one Lloyd step and one scan."""
    from soccer_data_pipeline_spark.plans import QUERIES

    emb = _emb(spark)
    fit_jobs = _jobs_submitted(
        spark,
        "kmeans-spark-fit",
        lambda: fit_deterministic_kmeans(emb, k=8, n_iters=3, local_cap=0),
    )
    assert fit_jobs == 16, fit_jobs
    query_jobs = _jobs_submitted(
        spark,
        "kmeans-fixed-assign",
        lambda: QUERIES["kmeans_fixed_assign"].fn(spark, SF).collect(),
    )
    assert query_jobs == 4, query_jobs


def test_semdedup_invariants(spark):
    """SemDeDup (plans/llm_queries.semantic_dedup_semdedup) structural
    invariants, independently recomputed from the collected result:

    - every dup cluster has EXACTLY one keeper;
    - the keeper is the member farthest from its k-means centroid
      (max exact-int64 dist_q2, ties to the smaller vec_id — the
      paper's keep-the-outlier rule on the house integer grid);
    - all members of a cluster share one learned cell (edges only ever
      connect same-cell rows, so CC can never merge across cells);
    - cluster_size matches the actual member count and every cluster
      has >= 2 members (singletons are not duplicates);
    - cluster_id is the component minimum (min-label convention).
    """
    from collections import defaultdict

    from soccer_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["semantic_dedup_semdedup"].fn(spark, SF).collect()
    assert rows, "semdedup produced no dup groups on the test corpus"
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m.is_keeper]
        assert len(keepers) == 1, (cid, keepers)
        best = sorted(members, key=lambda m: (-m.dist_q2, m.vec_id))[0]
        assert keepers[0].vec_id == best.vec_id, (cid, keepers[0], best)
        assert len({m.cell for m in members}) == 1, (cid, "cells differ")
        assert len(members) >= 2, (cid, "singleton cluster")
        assert all(m.cluster_size == len(members) for m in members), cid
        assert cid == min(m.vec_id for m in members), (cid, "not min-label")


def _pq_reference(x, books, centers=None, cell=None):
    """Pure-Python PQ encode of one row: explicit left folds (the SQL
    ``aggregate`` order) and first-minimum ties — the independent
    reference for :func:`pq_encode`."""
    import math

    sub = len(books[0][0])
    r = x if centers is None else [a - b for a, b in zip(x, centers[cell])]
    codes = []
    for s, book in enumerate(books):
        best, best_d = None, None
        for j, cw in enumerate(book):
            d = 0.0
            for i in range(sub):
                d = d + (r[s * sub + i] - cw[i]) * (r[s * sub + i] - cw[i])
            if best_d is None or d < best_d:
                best, best_d = j, d
        codes.append(best)
    n2 = 0.0
    if centers is None:
        for s, j in enumerate(codes):
            w = 0.0
            for v in books[s][j]:
                w = w + v * v
            n2 = n2 + w
    else:
        for s, j in enumerate(codes):
            for i in range(sub):
                v = centers[cell][s * sub + i] + books[s][j][i]
                n2 = n2 + v * v
    return codes, math.sqrt(n2)


def test_pq_encode_matches_pure_python_reference(spark):
    """pq_encode (the one Arrow PQ kernel under ivfpq_index and pq_topk)
    equals a per-row pure-Python left-fold reference BIT FOR BIT (==,
    not a tolerance) in raw and residual mode — codes, chat_norm and
    ties to the smaller code (a duplicated codeword) — and keeps its
    schema on an empty frame and a 1-row frame."""
    import random

    from soccer_data_pipeline_spark.operators.kmeans import pq_encode

    rng = random.Random(7)
    m, sub, n_codes, k = 2, 8, 5, 3
    books = [
        [[round(rng.uniform(-1, 1), 4) for _ in range(sub)] for _ in range(n_codes)]
        for _ in range(m)
    ]
    books[0][3] = list(books[0][1])  # duplicate codeword → ties to code 1
    centers = [
        [round(rng.uniform(-1, 1), 4) for _ in range(m * sub)] for _ in range(k)
    ]
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(m * sub)], i % k) for i in range(200)
    ]
    frame = spark.createDataFrame(rows, "vec_id long, v array<double>, cell int")
    code_cols = [f"code{s}" for s in range(m)]
    vecs = {i: (v, c) for i, v, c in rows}

    for cent in (None, centers):
        out = pq_encode(frame, books, "v", centers=cent)
        assert out.columns == ["vec_id", "v", "cell", *code_cols, "chat_norm"]
        got = out.collect()
        assert len(got) == len(rows)
        for r in got:
            v, cell = vecs[r.vec_id]
            codes, norm = _pq_reference(v, books, cent, cell)
            assert [r[c] for c in code_cols] == codes, (r.vec_id, cent is None)
            assert r.chat_norm == norm, (r.vec_id, r.chat_norm, norm)
        # the tie was exercised and went to the smaller code
        code0 = {r.code0 for r in got}
        assert 1 in code0 and 3 not in code0

        one = pq_encode(frame.where("vec_id = 7"), books, "v", centers=cent)
        v, cell = vecs[7]
        assert [
            ([r[c] for c in code_cols], r.chat_norm) for r in one.collect()
        ] == [_pq_reference(v, books, cent, cell)]
        empty = pq_encode(frame.where("vec_id < 0"), books, "v", centers=cent)
        assert empty.schema == out.schema and empty.collect() == []


def test_round_half_up_matches_spark_round_at_the_boundaries(spark):
    """``_round_half_up`` equals Spark's ``F.round`` on the doubles next to
    every half: the largest double below 0.5 (where ``floor(x + 0.5)``
    gives 1), the halves themselves, and k + 0.5 one ulp either side —
    one double at a time and as one array."""
    import math

    import numpy as np

    from soccer_data_pipeline_spark.operators.kmeans import _round_half_up

    xs = [0.49999999999999994, 0.5, 2.5]
    for k in (0, 1, 2, 7, 100, 9999):
        half = k + 0.5
        xs += [math.nextafter(half, -math.inf), math.nextafter(half, math.inf)]
    xs += [-x for x in xs]
    got = [_round_half_up(x) for x in xs]
    want = [
        int(r[0])
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .select(F.round("x"))
        .collect()
    ]
    assert got == want
    assert got[:3] == [0, 1, 3]
    arr = _round_half_up(np.array(xs))
    assert arr.dtype == np.int64 and arr.tolist() == want


def test_driver_quantize_matches_quantize_vec_next_to_every_half(spark):
    """The driver-side sample quantize of the PQ fit,
    ``_round_half_up(x * GRID_Q)`` on a float64 matrix, equals Spark's
    ``quantize_vec`` on the same doubles where the product lands next to
    a half: v = ±(k + 0.5) / GRID_Q and the doubles two ulps either side."""
    import math

    import numpy as np

    from soccer_data_pipeline_spark.operators.kmeans import GRID_Q, _round_half_up

    vs = []
    for k in (0, 1, 2, 7, 100, 4999, 9999):
        v = (k + 0.5) / GRID_Q
        lo = hi = v
        for _ in range(2):
            lo, hi = math.nextafter(lo, -math.inf), math.nextafter(hi, math.inf)
            vs += [lo, hi]
        vs.append(v)
        # the products straddle the half: rounding goes both ways
        products = [x * GRID_Q for x in vs[-5:]]
        assert min(products) < k + 0.5 <= max(products)
    vs += [-v for v in vs]
    want = (
        spark.createDataFrame([(vs,)], "v array<double>")
        .select(quantize_vec(F.col("v")).alias("q"))
        .first()["q"]
    )
    got = _round_half_up(np.array([vs]) * GRID_Q)
    assert got.dtype == np.int64 and got[0].tolist() == want
