"""ANN recall gates: the registry queries assert recall in-plan
(recall_ok column); here we check the flags are actually TRUE at
sf0.001 so a tuning regression fails with a readable message instead
of an oracle hash diff, and that LSH multiprobe radius is monotone
(probing more buckets never loses candidates).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from soccer_data_pipeline_spark.plans import QUERIES
from soccer_data_pipeline_spark.sources.parquet_source import load_table

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def test_lsh_macro_recall_gate(spark):
    row = QUERIES["similarity_ann_recall"].fn(spark, SF_DIR).collect()[0]
    assert row.n_queries == 10
    assert row.n_exact == 50
    assert row.recall_ok, "LSH macro recall fell below 0.75 — retune n_planes/multiprobe"


def test_ivf_per_query_recall_gate(spark):
    rows = QUERIES["similarity_ivf_recall"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not r.recall_ok]
    assert not bad, f"IVF per-query recall < 0.8 for queries {bad} — retune n_probe"


def test_multiprobe_radius_monotone(spark):
    from soccer_data_pipeline_spark.operators.similarity import ann_lsh_cosine

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    c = emb.where(F.col("vec_id") >= 10)
    ids = {}
    for radius in (0, 1, 2):
        df = ann_lsh_cosine(q, c, k=1000, n_planes=6, dim=64, multiprobe=radius)
        ids[radius] = {(r.query_id, r.candidate_id) for r in df.collect()}
    assert ids[0] <= ids[1] <= ids[2]


def test_ivf_quantizer_persist_reload(spark, tmp_path):
    """The quantizer survives a session restart: saved as JSON,
    reloaded, and the probe results are identical to the in-memory
    model's (same centers -> same cells -> same top-k)."""
    from soccer_data_pipeline_spark.operators.kmeans import DeterministicKMeans
    from soccer_data_pipeline_spark.operators.similarity import ivf_topk
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    q = emb.where("vec_id < 5")
    c = emb.where("vec_id >= 5")
    out1, model = ivf_topk(q, c, k=3, n_centroids=4, n_probe=2)
    r1 = {(r.query_id, r.rn): r.candidate_id for r in out1.collect()}

    path = str(tmp_path / "ivf_quantizer.json")
    model.save(path)
    loaded = DeterministicKMeans.load(path)
    assert [list(x) for x in loaded.clusterCenters()] == [
        list(x) for x in model.clusterCenters()
    ]
    out2, _ = ivf_topk(q, c, k=3, n_centroids=4, n_probe=2, model=loaded)
    assert {(r.query_id, r.rn): r.candidate_id for r in out2.collect()} == r1


def test_ivf_incremental_equals_full(spark):
    """Equality-vs-full property (the dedup tier's incremental
    discipline applied to ANN): with the SAME quantizer, searching an
    index built incrementally (base built first, a new batch assigned
    via ivf_index and unioned on) returns EXACTLY the results of a
    full one-shot build — assignment is per-row given the centers, so
    incremental maintenance must cost nothing in result terms."""
    from soccer_data_pipeline_spark.operators.kmeans import fit_deterministic_kmeans
    from soccer_data_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        ivf_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    base = c.where(F.col("vec_id") % 10 != 7)
    new = c.where(F.col("vec_id") % 10 == 7)
    model = fit_deterministic_kmeans(base, k=8, n_iters=2, sample_rows=2048)

    full, _ = ivf_topk(q, c, k=5, n_centroids=8, n_probe=4, model=model)
    incr = ivf_search(
        q,
        ivf_index(base, model).unionByName(ivf_index(new, model)),
        model,
        k=5,
        n_probe=4,
    )
    key = lambda rows: {(r.query_id, r.rn): r.candidate_id for r in rows}  # noqa: E731
    assert key(incr.collect()) == key(full.collect())


def test_ivf_incremental_store_roundtrip(spark, tmp_path):
    """Persisted-index round trip: quantizer JSON + index parquet
    saved, reloaded, a new batch incrementally assigned against the
    LOADED artifacts, and search over (loaded index) union (new
    assignments) equals the in-memory path — the across-app-restart
    maintenance story (no refit, no base rescan)."""
    from soccer_data_pipeline_spark.operators.kmeans import (
        DeterministicKMeans,
        fit_deterministic_kmeans,
    )
    from soccer_data_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    base = c.where(F.col("vec_id") % 10 != 7)
    new = c.where(F.col("vec_id") % 10 == 7)
    model = fit_deterministic_kmeans(base, k=8, n_iters=2, sample_rows=2048)

    qpath = str(tmp_path / "quantizer.json")
    ipath = str(tmp_path / "index.parquet")
    model.save(qpath)
    ivf_index(base, model).write.parquet(ipath)

    loaded_model = DeterministicKMeans.load(qpath)
    assert loaded_model.centers_q == model.centers_q
    loaded_index = spark.read.parquet(ipath)
    incr = ivf_search(
        q,
        loaded_index.unionByName(ivf_index(new, loaded_model)),
        loaded_model,
        k=5,
        n_probe=4,
    )
    mem = ivf_search(
        q,
        ivf_index(base, model).unionByName(ivf_index(new, model)),
        model,
        k=5,
        n_probe=4,
    )
    key = lambda rows: {(r.query_id, r.rn): r.candidate_id for r in rows}  # noqa: E731
    assert key(incr.collect()) == key(mem.collect())


def test_ivf_incremental_gates(spark):
    rows = QUERIES["similarity_ivf_incremental"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not (r.recall_ok and r.new_recall_ok)]
    assert not bad, f"incremental IVF gate false for queries {bad}"


def test_ivfpq_gates_and_incremental_index(spark):
    """Composed IVF×PQ: the registered gate is TRUE at sf0.001, and
    ivfpq_index extends incrementally — index(base) ∪ index(new) with
    the same quantizers searches identically to a one-shot build
    (cells and codes are per-row functions of persisted constants)."""
    from soccer_data_pipeline_spark.operators.kmeans import fit_deterministic_kmeans
    from soccer_data_pipeline_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_search,
        ivfpq_topk,
    )

    rows = QUERIES["similarity_ivfpq_recall"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not r.recall_ok]
    assert not bad, f"IVFPQ per-query recall < 0.8 for queries {bad}"

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    full, coarse, models = ivfpq_topk(
        q, c, k=5, shortlist=50, n_centroids=8, n_probe=4, m=16, n_codes=8
    )
    base = c.where(F.col("vec_id") % 10 != 7)
    new = c.where(F.col("vec_id") % 10 == 7)
    incr = ivfpq_search(
        q,
        ivfpq_index(base, coarse, models).unionByName(
            ivfpq_index(new, coarse, models)
        ),
        c,
        coarse,
        models,
        k=5,
        shortlist=50,
        n_probe=4,
    )
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(incr.collect()) == key(full.collect())


def test_ivfpq_residual_roundtrip_and_gates(spark):
    """Residual-encoded IVF×PQ (the true FAISS IndexIVFPQ):

    - the registered gate is TRUE at sf0.001;
    - the index's stored ``chat_norm`` equals an independent Python
      reconstruction ‖centroid[cell] + codebook_s[code_s]‖ from the
      persisted constants (proves the encode path quantizes the
      RESIDUAL and the norm describes centroid + decoded residual,
      not the residual alone);
    - residual codes differ from raw-encoding codes on the same
      corpus/quantizers (proves the flag switches the encoding);
    - incremental extend: index(base) ∪ index(new) searches
      identically to the one-shot build (the FAISS `add` contract
      survives the residual form).
    """
    import math

    from soccer_data_pipeline_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_search,
        ivfpq_topk,
    )

    rows = QUERIES["similarity_ivfpq_residual"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not r.recall_ok]
    assert not bad, f"residual IVFPQ per-query recall < 0.8 for queries {bad}"

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    full, coarse, models = ivfpq_topk(
        q, c, k=5, shortlist=50, n_centroids=8, n_probe=4, m=16, n_codes=8,
        residual=True,
    )
    idx = ivfpq_index(c, coarse, models, residual=True)
    m = len(models)
    sub = len(models[0].clusterCenters()[0])
    centers = coarse.clusterCenters()
    books = [mod.clusterCenters() for mod in models]
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in c.select("vec_id", "embedding").collect()
    }
    for r in idx.limit(20).collect():
        chat = list(centers[r.cell])
        for s in range(m):
            cw = books[s][r[f"code{s}"]]
            for i in range(sub):
                chat[s * sub + i] += cw[i]
        expect = math.sqrt(sum(x * x for x in chat))
        assert abs(expect - r.chat_norm) < 1e-9, (r.candidate_id, expect, r.chat_norm)
        # and the decoded residual tracks the actual residual better
        # than decoding the raw vector would: sanity that codes were
        # fit/assigned in residual space — the nearest-codeword rule
        # applied to (vec - centroid)
        v = vecs[r.candidate_id]
        for s in range(m):
            res_s = [
                v[s * sub + i] - centers[r.cell][s * sub + i] for i in range(sub)
            ]
            d_chosen = sum(
                (res_s[i] - books[s][r[f"code{s}"]][i]) ** 2 for i in range(sub)
            )
            d_best = min(
                sum((res_s[i] - cw[i]) ** 2 for i in range(sub))
                for cw in books[s]
            )
            assert d_chosen <= d_best + 1e-9, (r.candidate_id, s)

    raw_idx = ivfpq_index(c, coarse, models, residual=False)
    code_cols = [f"code{s}" for s in range(m)]
    raw = {r.candidate_id: tuple(r[cc] for cc in code_cols) for r in raw_idx.collect()}
    res = {r.candidate_id: tuple(r[cc] for cc in code_cols) for r in idx.collect()}
    assert any(raw[i] != res[i] for i in raw), "residual flag changed nothing"

    base = c.where(F.col("vec_id") % 10 != 7)
    new = c.where(F.col("vec_id") % 10 == 7)
    incr = ivfpq_search(
        q,
        ivfpq_index(base, coarse, models, residual=True).unionByName(
            ivfpq_index(new, coarse, models, residual=True)
        ),
        c,
        coarse,
        models,
        k=5,
        shortlist=50,
        n_probe=4,
        residual=True,
    )
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(incr.collect()) == key(full.collect())


def test_ivfpq_encode_plan_holds_no_codebook_literals(spark):
    """The PQ encode is ONE Arrow projection against codebooks held as
    constants in its closure: the analyzed plan of ivfpq_index carries
    no array_sort argmin and no literal codebook or centroid value, and
    the optimized plan evaluates the encode UDF in exactly one
    ArrowEvalPython — raw and residual alike."""
    from soccer_data_pipeline_spark.operators.similarity import (
        fit_ivfpq_quantizers,
        ivfpq_index,
    )

    c = load_table(spark, SF_DIR, "embeddings")
    coarse, models = fit_ivfpq_quantizers(
        c, n_centroids=8, m=16, n_codes=8, residual=True
    )
    values = {x for mod in [coarse, *models] for cw in mod.clusterCenters() for x in cw}
    literals = [repr(x) for x in values if x != int(x)]
    assert literals
    for residual in (True, False):
        qe = ivfpq_index(c, coarse, models, residual=residual)._jdf.queryExecution()
        analyzed = qe.analyzed().toString()
        assert "array_sort" not in analyzed, residual
        assert not [x for x in literals if x in analyzed], residual
        evals = [
            line
            for line in qe.optimizedPlan().toString().splitlines()
            if "ArrowEvalPython" in line
        ]
        assert sum(line.count("_pq_encode(") for line in evals) == 1, evals


def test_ivfpq_rejects_dim_not_divisible_by_m(spark):
    """A dimension not divisible by m raises ValueError, not an assert
    (which ``python -O`` strips, silently dropping the trailing dims
    from every code)."""
    from soccer_data_pipeline_spark.operators.similarity import (
        fit_ivfpq_quantizers,
    )

    c = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="not divisible by m=7"):
        fit_ivfpq_quantizers(c, m=7)


def test_quantizer_fits_reject_bad_input_before_any_job(spark):
    """``n_codes`` above 256 (a PQ code is one byte, and the driver-held
    sample is 1.2·256 rows per code) raises ValueError before any job
    in both fit entry points, as does an empty frame whose count of 0
    is handed to ``fit_pq_codebooks``; ``fit_ivfpq_quantizers`` on an
    empty frame raises the same error after its count alone."""
    from soccer_data_pipeline_spark.operators.similarity import (
        _vectors,
        fit_ivfpq_quantizers,
        fit_pq_codebooks,
    )

    from .test_index_pipeline import _jobs_submitted

    c = load_table(spark, SF_DIR, "embeddings")
    cand = _vectors(c, "vec_id", "embedding", norm=False)
    empty = c.where(F.col("vec_id") < 0)

    def raises(match, fn):
        with pytest.raises(ValueError, match=match):
            fn()

    too_many = "n_codes=257: a PQ code is one byte"
    assert _jobs_submitted(spark, "fit-257", lambda: raises(
        too_many, lambda: fit_ivfpq_quantizers(c, n_codes=257)
    )) == 0
    assert _jobs_submitted(spark, "pq-257", lambda: raises(
        too_many, lambda: fit_pq_codebooks(cand, None, 16, 257, n_rows=1000)
    )) == 0
    assert _jobs_submitted(spark, "pq-empty", lambda: raises(
        "candidate frame is empty",
        lambda: fit_pq_codebooks(cand.where("candidate_id < 0"), None, 16, 16, 0),
    )) == 0
    count_jobs = _jobs_submitted(spark, "count-empty", empty.count)
    assert _jobs_submitted(spark, "fit-empty", lambda: raises(
        "candidate frame is empty", lambda: fit_ivfpq_quantizers(empty)
    )) == count_jobs


def _fold(xs) -> float:
    """Left fold from 0.0: the order of the SQL aggregate(zip_with) fold."""
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


def _query_reference(q, centers, n_probe, books, residual):
    """Per-query search terms, one plain-Python left fold each: the probe
    order (stable, so a tie goes to the smaller cell), and per probed
    cell ``qc``, plus ``qn`` and the m lookup tables."""
    sub = len(books[0][0])
    d2 = [_fold((a - b) * (a - b) for a, b in zip(q, c)) for c in centers]
    probe = sorted(range(len(centers)), key=lambda j: d2[j])[:n_probe]
    luts = [
        [_fold(q[s * sub + t] * cw[t] for t in range(sub)) for cw in book]
        for s, book in enumerate(books)
    ]
    return {
        "qn": math.sqrt(_fold(x * x for x in q)),
        "cell": probe,
        "qc": [_fold(a * b for a, b in zip(q, centers[c])) for c in probe]
        if residual else None,
        "luts": luts,
    }


def _order_decided_by_fold(rng, q, d):
    """Two centers the probe distance to ``q`` ranks one way under the
    left fold and the other way (or tied) under numpy's pairwise
    ``.sum()``: the same offsets from ``q``, permuted. The one the fold
    puts farther takes the SMALLER cell id, so a tie goes to it."""
    import numpy as np

    qa = np.array(q)
    while True:
        p = [rng.uniform(-1, 1) for _ in range(d)]
        perm = p[:]
        rng.shuffle(perm)
        a = [x + y for x, y in zip(q, p)]
        b = [x + y for x, y in zip(q, perm)]
        fa = _fold((x - y) * (x - y) for x, y in zip(q, a))
        fb = _fold((x - y) * (x - y) for x, y in zip(q, b))
        pa_ = float(((qa - np.array(a)) ** 2).sum())
        pb = float(((qa - np.array(b)) ** 2).sum())
        if fa != fb and (fa < fb) != (pa_ < pb):
            return (b, a) if fa < fb else (a, b)


def test_query_state_matches_pure_python_reference():
    """The driver-side query state of an IVF×PQ search (``qn``, the probe
    order, ``qc`` and the m ADC lookup tables) equals a plain-Python
    left-fold reference BIT FOR BIT (==, not a tolerance), raw and
    residual: these doubles are what the SQL folds computed before, so
    served results stay identical. Cases: a duplicated center (a tie
    goes to the smaller cell), a pair of centers whose order only the
    fold order decides, a 1-query batch and an empty batch. No Spark."""
    import random

    from soccer_data_pipeline_spark.operators.similarity import (
        QueryBatch,
        _query_arrays,
    )

    rng = random.Random(11)
    m, sub, n_codes, k, n_probe = 4, 8, 6, 9, 3
    d = m * sub
    queries = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(40)]
    centers = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(k)]
    centers[0], centers[1] = _order_decided_by_fold(rng, queries[0], d)
    centers[2] = list(queries[1])
    centers[6] = list(queries[1])  # the same distance as cell 2 to every query
    books = [
        [[rng.uniform(-1, 1) for _ in range(sub)] for _ in range(n_codes)]
        for _ in range(m)
    ]

    for residual in (False, True):
        for qs in (queries, queries[:1], []):
            batch = QueryBatch.of(range(len(qs)), qs)
            got = _query_arrays(batch, centers, n_probe, books, residual)
            assert set(got) == {
                "query", "cell", *(["qc"] if residual else []),
                *[f"lut{s}" for s in range(m)],
            }
            assert len(got["query"]) == len(qs) * n_probe
            for i, q in enumerate(qs):
                ref = _query_reference(q, centers, n_probe, books, residual)
                rows = slice(i * n_probe, (i + 1) * n_probe)
                assert list(got["query"][rows]) == [i] * n_probe
                assert batch.qn[i] == ref["qn"], i
                assert list(got["cell"][rows]) == ref["cell"], (i, residual)
                if residual:
                    assert list(got["qc"][rows]) == ref["qc"], i
                for s in range(m):
                    for r in range(rows.start, rows.stop):
                        assert list(got[f"lut{s}"][r]) == ref["luts"][s], (i, s)
    # the fold alone put cell 1 first for query 0, and the tie between
    # the duplicated cells 2 and 6 went to cell 2
    one = _query_arrays(QueryBatch.of([0, 1], queries[:2]), centers, 1)
    assert list(one["cell"]) == [1, 2]


def test_ivfpq_search_plan_holds_no_centroid_or_codebook_literals(spark, tmp_path):
    """The query side of an IVF×PQ search (probe ranking, lookup tables,
    residual term) is built on the driver and handed to Spark as a local
    relation: the analyzed plans of ``ann_index_search`` and of
    ``ivfpq_search`` (raw and residual) carry no coarse-center or
    codebook value and no ``array_sort`` probe ranking."""
    from soccer_data_pipeline_spark.index_pipeline import (
        ann_index_search,
        run_ann_index_build,
    )
    from soccer_data_pipeline_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    c = emb.where(F.col("vec_id") >= 10)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    coarse, models = built.coarse, built.models
    values = {x for mod in [coarse, *models] for cw in mod.clusterCenters() for x in cw}
    literals = [repr(x) for x in values if x != int(x)]
    assert literals
    frames = [ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=4)]
    for residual in (True, False):
        frames.append(
            ivfpq_search(
                q, ivfpq_index(c, coarse, models, residual=residual), c, coarse,
                models, k=5, shortlist=50, n_probe=4, residual=residual,
            )
        )
    for i, df in enumerate(frames):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "array_sort" not in analyzed, i
        assert not [x for x in literals if x in analyzed], i
