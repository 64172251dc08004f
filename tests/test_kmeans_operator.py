"""Deterministic k-means operator (operators/kmeans.py) — the trainer
under the IVF coarse quantizer and the code path hash-checked by the
``kmeans_fixed_assign`` differential (VERDICT r10 #3: load-bearing).

Covers: the two assignment forms agree (in-row Arrow kernel vs
broadcast-frame struct-min), the trainer reproduces the registered
differential's final assignment under the differential's seeding,
byte-stable refits, JSON persistence round-trip, the IVF path's
behavior under the swapped trainer, and the Arrow PQ encode kernel
against a pure-Python left-fold reference.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from soccer_data_pipeline_spark.operators.kmeans import (
    DeterministicKMeans,
    assign_cells,
    fit_deterministic_kmeans,
    quantize_vec,
)
from soccer_data_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def test_inrow_assign_matches_broadcast_form(spark):
    """with_cell (zero-shuffle Arrow kernel — the corpus-scale form)
    and assign_cells (broadcast k-row frame + struct-min groupBy — the
    fit/differential form) are the same exact int64 argmin."""
    emb = _emb(spark)
    model = fit_deterministic_kmeans(emb, k=8, n_iters=2)
    inrow = {
        (r.vec_id, r.cell)
        for r in model.assign(emb, id_col="vec_id", vec_col="embedding").collect()
    }
    eq = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("xq"))
    bcast = {
        (r.vec_id, r.cell)
        for r in assign_cells(eq, model.centers_df(spark)).collect()
    }
    assert inrow == bcast


def test_fit_first_k_reproduces_differential_assignment(spark):
    """fit(init='first_k', n_iters=1) IS the kmeans_fixed_assign
    recurrence (seed on vec_id < k, one recompute): the trainer's
    final assignment must equal the hash-checked query's
    cluster_final column — the 'shared code path' claim, tested."""
    from soccer_data_pipeline_spark.plans import QUERIES

    model = fit_deterministic_kmeans(
        _emb(spark), k=8, n_iters=1, init="first_k"
    )
    ours = {
        (r.vec_id, r.cell)
        for r in model.assign(_emb(spark), id_col="vec_id").collect()
    }
    query = {
        (r.vec_id, r.cluster_final)
        for r in QUERIES["kmeans_fixed_assign"].fn(spark, SF).collect()
    }
    assert ours == query


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
    a = {(r.vec_id, r.cell) for r in model.assign(_emb(spark)).collect()}
    b = {(r.vec_id, r.cell) for r in loaded.assign(_emb(spark)).collect()}
    assert a == b


def test_empty_cluster_keeps_previous_center(spark):
    """A cluster that loses all members keeps its previous center
    (deterministic dead-centroid behavior): with every vector
    identical, all rows assign to cid 0 (tie → smaller cid), so cells
    1..k-1 go empty and must retain their seed centers."""
    emb = _emb(spark).limit(8)
    const = emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda _: F.lit(0.5)).alias("embedding")
    )
    model = fit_deterministic_kmeans(const, k=4, n_iters=2, init="first_k")
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
    training sample is bounded) must be BIT-EQUAL to the distributed
    loop: same Spark-side quantization, exact int64 distances, same
    tie-breaks, and a replicated HALF_UP center round. local_cap=0
    forces the distributed engine for the comparison."""
    emb = _emb(spark)
    for init in ("farthest", "first_k"):
        local = fit_deterministic_kmeans(emb, k=8, n_iters=3, init=init)
        dist = fit_deterministic_kmeans(emb, k=8, n_iters=3, init=init, local_cap=0)
        assert local.centers_q == dist.centers_q, init


def test_inrow_assign_explicit_cids_matches_assign_cells(spark):
    """inrow_assign (r15: driver-held centers, explicit non-dense cids,
    optional distance output — the shape the SemDeDup family now
    assigns through) must be bit-equal to assign_cells over a (cid,
    cq) frame of the SAME centers: exact int64 distance, (dist, cid)
    struct-min tie-break, long cell/dist columns."""
    from soccer_data_pipeline_spark.operators.kmeans import inrow_assign

    emb = _emb(spark)
    e = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("xq"))
    # non-dense cids (vec_ids of the 8 smallest rows — the SemDeDup
    # seeding), and deliberately-colliding centers to exercise ties
    seeds = [
        (int(r.vec_id), [int(x) for x in r.xq])
        for r in e.orderBy("vec_id").limit(8).collect()
    ]
    seeds[3] = (seeds[3][0], list(seeds[2][1]))  # duplicate center → ties
    cent_df = spark.createDataFrame(
        seeds, "cid bigint, cq array<bigint>"
    )
    ours = {
        (r.vec_id, r.cell, r.dist_q2)
        for r in inrow_assign(e, seeds, dist_col="dist_q2")
        .select("vec_id", "cell", "dist_q2")
        .collect()
    }
    ref = {
        (r.vec_id, r.cell, r.dist_q2)
        for r in assign_cells(e, cent_df, keep_dist=True).collect()
    }
    assert ours == ref


def test_two_iter_lloyd_centers_matches_distributed_chain(spark):
    """two_iter_lloyd_centers (r15: two bounded collects + a fused
    in-row first-iteration pass) must reproduce the r14 distributed
    seeds→assign_cells→lloyd_recompute chain exactly — non-empty cells
    only, ascending cid, identical HALF_UP grid means."""
    from soccer_data_pipeline_spark.operators.kmeans import (
        lloyd_recompute,
        two_iter_lloyd_centers,
    )

    emb = _emb(spark)
    e = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("xq"))
    for k in (3, 8):
        ours = two_iter_lloyd_centers(e, k)
        seeds = (
            e.orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id").alias("cid"), F.col("xq").alias("cq"))
        )
        a1 = assign_cells(e, seeds, out_col="c1")
        ref = sorted(
            (int(r.cid), [int(x) for x in r.cq])
            for r in lloyd_recompute(a1, e, cell_col="c1").collect()
        )
        assert ours == ref, k


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
    gives 1), the halves themselves, and k + 0.5 one ulp either side."""
    import math

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
