"""Invariant tests for the r10 retrieval/repair additions.

- ``passage_dedup_repair``: keep-exactly-one semantics per duplicated
  passage, identity on clean documents, and token-count conservation.
- ``hybrid_retrieval_rrf``: rank contiguity per query and the RRF
  score recomputing exactly from the emitted leg ranks.

The cross-engine value hashes are covered by test_registry_oracle's
parametrized differential; these pin the SEMANTICS so a refactor that
still matches some oracle cannot silently change the contract.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from soccer_data_pipeline_spark.plans import QUERIES
from soccer_data_pipeline_spark.plans.curation_queries import CHUNK

from .kmeans_reference import lloyd_step, nearest, quantize

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def repair_rows(spark):
    return {
        r["doc_id"]: r
        for r in QUERIES["passage_dedup_repair"].fn(spark, SF).collect()
    }


def test_repair_removes_all_but_one_occurrence(repair_rows):
    """sum(n_removed) over docs == sum over shared hashes of
    (occurrences - 1): exactly one occurrence of every cross-document
    duplicated passage survives, computed independently in DuckDB."""
    con = duckdb.connect()
    expected = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS t
          FROM read_parquet('{SF}/documents.parquet')
        ),
        occ AS (
          SELECT doc_id,
                 MD5(ARRAY_TO_STRING(t[(i*{CHUNK}+1):((i+1)*{CHUNK})], ' ')) AS h
          FROM (SELECT doc_id, t, UNNEST(RANGE(LEN(t) // {CHUNK})) AS i
                FROM toks WHERE LEN(t) >= {CHUNK})
        )
        SELECT COALESCE(SUM(cnt - 1), 0) FROM (
          SELECT h, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS nd
          FROM occ GROUP BY h
        ) WHERE nd >= 2
        """
    ).fetchone()[0]
    con.close()
    assert sum(r["n_removed"] for r in repair_rows.values()) == expected
    assert expected > 0, "fixture must exercise the removal path"


def test_repair_identity_on_clean_docs(spark, repair_rows):
    """A document with no duplicated passage must come back verbatim
    (modulo the tokenizer's whitespace normalization)."""
    normalized = {
        r["doc_id"]: (r["m"], r["n"])
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.filter(F.split("text", " "), lambda x: x != ""))
            ).alias("m"),
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n"),
        )
        .collect()
    }
    clean = [r for r in repair_rows.values() if r["n_removed"] == 0]
    assert clean, "fixture must contain clean documents"
    for r in clean:
        m, n = normalized[r["doc_id"]]
        assert r["repaired_md5"] == m
        assert r["n_tokens_kept"] == n


def test_repair_token_conservation(repair_rows):
    """kept tokens == original full-chunk tokens + tail - removed*CHUNK
    — the rebuild drops exactly the cut passages, nothing else (checked
    per doc via the emitted counts and the clean-doc token totals)."""
    for r in repair_rows.values():
        # n_tokens_kept + CHUNK*n_removed is the original token count,
        # which must be >= n_chunks*CHUNK (full chunks) and < (n_chunks+1)*CHUNK
        orig = r["n_tokens_kept"] + CHUNK * r["n_removed"]
        assert orig >= r["n_chunks"] * CHUNK or r["n_chunks"] == 0
        if r["n_chunks"] > 0:
            assert orig < (r["n_chunks"] + 1) * CHUNK


def test_rrf_ranks_contiguous_and_score_recomputes(spark):
    rows = QUERIES["hybrid_retrieval_rrf"].fn(spark, SF).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["fused_rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1)), q
        for r in rs:
            assert r["dense_rank"] is not None or r["lex_rank"] is not None
            expect = 0.0
            if r["dense_rank"] is not None:
                assert 1 <= r["dense_rank"] <= 20
                expect += 1.0 / (60 + r["dense_rank"])
            if r["lex_rank"] is not None:
                assert 1 <= r["lex_rank"] <= 20
                expect += 1.0 / (60 + r["lex_rank"])
            assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9


def test_rrf_double_rank1_wins(spark):
    """RRF top-1 dominance: a candidate ranked 1 by BOTH legs must be
    the fused rank 1 (2/(k+1) strictly beats any other attainable
    score). Skips (vacuous) if the fixture has no such candidate."""
    rows = QUERIES["hybrid_retrieval_rrf"].fn(spark, SF).collect()
    hit = False
    for r in rows:
        if r["dense_rank"] == 1 and r["lex_rank"] == 1:
            hit = True
            assert r["fused_rank"] == 1
    if not hit:
        pytest.skip("no double-rank-1 candidate at this sf")


def _load_vecs():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    return {vid: v for vid, v in rows}


def test_mmr_matches_greedy_reference(spark):
    """Independent re-implementation: replicate the exact greedy MMR
    (6-dp-rounded cosines -> micro-unit integer scores, id tiebreaks)
    in plain Python and assert the distributed plan picks the same
    candidates in the same order for every query."""
    import math

    vecs = _load_vecs()
    qids = [i for i in vecs if i < 8]
    cids = [i for i in vecs if i >= 8]

    def cos6(a, b):
        d = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = math.sqrt(sum(x * x for x in vecs[a]))
        nb = math.sqrt(sum(x * x for x in vecs[b]))
        return round(d / (na * nb), 6)

    expected = {}
    for qid in qids:
        pool = sorted(cids, key=lambda c: (-cos6(qid, c), c))[:10]
        rel_pm = {c: int(round(cos6(qid, c) * 1e6)) for c in pool}
        selected = []
        for _ in range(5):
            rem = [c for c in pool if c not in selected]
            best = None
            for c in rem:
                max_pm = max(
                    (int(round(cos6(c, s) * 1e6)) for s in selected),
                    default=0,
                )
                mmr_i = 7 * rel_pm[c] - 3 * max_pm
                if best is None or (-mmr_i, c) < best[0]:
                    best = ((-mmr_i, c), c)
            selected.append(best[1])
        expected[qid] = selected

    rows = QUERIES["mmr_diverse_rerank"].fn(spark, SF).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], {})[r["mmr_rank"]] = r["candidate_id"]
    for qid in qids:
        picks = [got[qid][k] for k in sorted(got[qid])]
        assert picks == expected[qid], (qid, picks, expected[qid])


def test_mmr_rank1_is_dense_top1(spark):
    rows = QUERIES["mmr_diverse_rerank"].fn(spark, SF).collect()
    r1 = {r["query_id"]: r for r in rows if r["mmr_rank"] == 1}
    for q, r in r1.items():
        assert r["maxsim"] == 0.0
        # rank 1 has no redundancy penalty: score == 0.7*rel exactly in
        # micro-units
        assert abs(r["mmr_score"] - (7 * round(r["rel"] * 1e6)) / 1e7) < 1e-12


def test_ndcg_metric_bounds_and_consistency(spark):
    rows = QUERIES["retrieval_eval_ndcg"].fn(spark, SF).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["n_hits"] <= min(10, r["n_relevant"])
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert 0.0 <= r["mrr_at_k"] <= 1.0
        assert 0.0 <= r["ndcg_at_k"] <= 1.0 + 1e-9
        if r["n_hits"] == 0:
            assert r["mrr_at_k"] == 0.0 and r["ndcg_at_k"] == 0.0
        else:
            assert r["mrr_at_k"] > 0.0 and r["ndcg_at_k"] > 0.0


def test_kmeans_matches_python_reference(spark):
    """Replicate the deterministic quantized 2-step Lloyd exactly in
    plain Python (``kmeans_reference``: grid longs, grid-rounded
    centroids, ties to the smaller cid) and assert identical
    assignments at sf0.001."""
    xq = {i: quantize(v) for i, v in _load_vecs().items()}
    seeds = {c: xq[c] for c in range(8)}
    a1 = {i: nearest(x, seeds)[1] for i, x in xq.items()}
    cents = lloyd_step(xq, seeds)
    expected = {i: nearest(x, cents) for i, x in xq.items()}

    rows = QUERIES["kmeans_fixed_assign"].fn(spark, SF).collect()
    assert len(rows) == len(xq)
    for r in rows:
        ed, ec = expected[r["vec_id"]]
        assert r["cluster_first"] == a1[r["vec_id"]]
        assert r["cluster_final"] == ec
        assert r["dist_q2"] == ed
        assert r["moved"] == (r["cluster_first"] != r["cluster_final"])
    # seeds must claim themselves in iteration 1 (distance 0)
    for c in range(8):
        assert a1[c] == c
