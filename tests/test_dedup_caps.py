"""Hot-key caps for the dedup pair joins (VERDICT r1 "What's wrong" #3).

Two properties:
1. Equivalence — on the real test corpus (no pathological bucket), the
   capped plan returns exactly the uncapped result.
2. Boundedness — on a synthetic boilerplate-heavy corpus, the cap
   removes the quadratic hot bucket while genuine near-dup pairs made
   of distinctive shingles still surface.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from soccer_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard,
    shingles,
)
from soccer_data_pipeline_spark.sources.parquet_source import load_table

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _boilerplate_docs(spark, n_boiler=40, payload="the quick brown fox jumps over the lazy dog again and again"):
    """n_boiler docs of identical boilerplate + one genuine near-dup pair
    with distinctive text + one unrelated doc."""
    rows = [(i, "en", f"header {i} " + payload) for i in range(n_boiler)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows += [
        (1000, "en", base),
        (1001, "en", base + " nu"),
        (2000, "en", "completely unrelated words nothing shared with others here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_lsh_cap_equivalence_on_corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    uncapped = minhash_near_dup_pairs(docs, n=3, k=16, bands=4, threshold=0.5)
    capped = minhash_near_dup_pairs(
        docs, n=3, k=16, bands=4, threshold=0.5, max_bucket_size=50
    )
    assert _rows(uncapped) == _rows(capped)


def test_ngram_df_cap_equivalence_on_corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    uncapped = ngram_jaccard(docs, n=3, threshold=0.2, max_df=None)
    capped = ngram_jaccard(docs, n=3, threshold=0.2, max_df=100)
    assert _rows(uncapped) == _rows(capped)


def test_lsh_bucket_cap_bounds_boilerplate(spark):
    docs = _boilerplate_docs(spark)
    sigs = minhash_signatures(shingles(docs, n=3), k=16)
    uncapped = lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    capped = lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket_size=10)
    n_unc, n_cap = uncapped.count(), capped.count()
    # Boilerplate docs share most shingles -> hot buckets -> ~O(n_boiler^2)
    # candidates without the cap.
    assert n_unc > 400
    # Capped plan: the 40-doc buckets are dropped; remaining candidate
    # space is bounded by cap^2 per bucket.
    assert n_cap < n_unc / 4
    # The genuine near-dup pair (distinctive shingles, tiny bucket) survives.
    assert capped.where(
        (F.col("doc_a") == 1000) & (F.col("doc_b") == 1001)
    ).count() == 1


def test_ngram_df_cap_bounds_boilerplate(spark):
    docs = _boilerplate_docs(spark)
    uncapped = ngram_jaccard(docs, n=3, threshold=0.2, max_df=None)
    capped = ngram_jaccard(docs, n=3, threshold=0.2, max_df=10)
    pairs_unc = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    pairs_cap = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # Without the cap the boilerplate cohort is quadratically paired.
    assert len(pairs_unc) > 400
    # With the cap, boilerplate shingles (df=40 > 10) are dropped, so no
    # boilerplate-only pair survives...
    assert not any(a < 100 and b < 100 for a, b in pairs_cap)
    # ...while the genuine pair (distinctive shingles, df=2) remains, with
    # Jaccard over the filtered shingle space.
    assert (1000, 1001) in pairs_cap
    row = capped.where((F.col("doc_a") == 1000) & (F.col("doc_b") == 1001)).collect()[0]
    assert row.n_common == 10 and row.n_a == 10 and row.n_b == 11


def test_incremental_pairs_equal_full_pairs_restricted(spark):
    """Incremental dedup (new batch vs corpus) must equal the full run
    restricted to pairs touching the batch — and generate no
    existing-vs-existing pair."""
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_near_dup_pairs,
    )
    from soccer_data_pipeline_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    is_new = F.col("doc_id") % 5 == 0
    inc = {
        (r.doc_a, r.doc_b)
        for r in minhash_incremental_pairs(
            docs, is_new, n=3, k=16, bands=4, threshold=0.5, max_bucket_size=50
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(
            docs, n=3, k=16, bands=4, threshold=0.5, max_bucket_size=50
        ).collect()
    }
    expected = {(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0}
    assert inc == expected
    assert all(a % 5 == 0 or b % 5 == 0 for a, b in inc)


def test_incremental_candidates_from_persisted_signature_store(spark, tmp_path):
    """The production incremental path: signatures written by a prior
    run load from parquet and drive candidate generation directly — no
    reshingling of the existing corpus — with identical candidates to
    the in-memory signature frame."""
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.dedup import (
        lsh_incremental_candidates,
        minhash_signatures,
        shingles,
    )
    from soccer_data_pipeline_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = minhash_signatures(shingles(docs, n=3), k=16)
    store = str(tmp_path / "sig_store")
    sigs.write.parquet(store)  # prior run's S6 sink

    new_ids = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    from_store = {
        (r.doc_a, r.doc_b)
        for r in lsh_incremental_candidates(
            spark.read.parquet(store), new_ids, bands=4, rows_per_band=4,
            max_bucket_size=50,
        ).collect()
    }
    in_memory = {
        (r.doc_a, r.doc_b)
        for r in lsh_incremental_candidates(
            sigs, new_ids, bands=4, rows_per_band=4, max_bucket_size=50
        ).collect()
    }
    assert from_store == in_memory and from_store


def test_jaccard_prefix_join_complete_vs_brute_force(spark):
    """Prefix-filter completeness (the whole point: NO candidate loss,
    unlike the DF-capped tiers): on seeded random corpora with planted
    dup clusters, jaccard_prefix_pairs finds EXACTLY the brute-force
    J >= tau pair set, several taus."""
    import random

    from soccer_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    did = 0
    for cluster in range(8):
        base = rng.sample(vocab, rng.randrange(6, 20))
        for member in range(rng.randrange(1, 5)):
            t = list(base)
            for _ in range(rng.randrange(0, 3)):  # light perturbation
                if rng.random() < 0.5 and len(t) > 4:
                    t.pop(rng.randrange(len(t)))
                else:
                    t.append(rng.choice(vocab))
            rng.shuffle(t)
            docs.append((did, " ".join(t)))
            did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def brute(tau_num, tau_den):
        sets = {d: set(t.split()) for d, t in docs}
        out = set()
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                if (tau_den + tau_num) * inter >= tau_num * (
                    len(sets[a]) + len(sets[b])
                ):
                    out.add((a, b, inter, len(sets[a]), len(sets[b])))
        return out

    for tau_num, tau_den in ((1, 2), (4, 5), (9, 10), (2, 3)):
        got = {
            (r.doc_a, r.doc_b, r.ints, r.sa, r.sb)
            for r in jaccard_prefix_pairs(df, tau_num, tau_den).collect()
        }
        assert got == brute(tau_num, tau_den), (tau_num, tau_den)


def test_winnowing_guarantee_shared_fingerprint(spark):
    """The SIGMOD'03 winnowing theorem, tested: any two docs sharing a
    verbatim run of >= w + k - 1 chars share at least one fingerprint
    — across random contexts, boundary placements, and (k, w) configs.
    Also the converse sanity: docs with no shared content share none."""
    import random
    import string

    from soccer_data_pipeline_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(11)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    for k, w in ((16, 8), (8, 4), (5, 3)):
        t = w + k - 1
        docs = []
        expected_pairs = set()
        did = 0
        for trial in range(6):
            shared = rand_text(t + rng.randrange(0, 5))
            a = rand_text(rng.randrange(0, 30)) + shared + rand_text(rng.randrange(0, 30))
            b = rand_text(rng.randrange(0, 30)) + shared + rand_text(rng.randrange(0, 30))
            docs += [(did, a), (did + 1, b)]
            expected_pairs.add((did, did + 1))
            did += 2
        # plus two unrelated docs (no planted overlap)
        docs += [(did, rand_text(200)), (did + 1, rand_text(200))]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        import pyspark.sql.functions as F

        fp = winnowing_fingerprints(df, k=k, w=w)
        a, b = fp.alias("a"), fp.alias("b")
        got = {
            (r.doc_a, r.doc_b)
            for r in a.join(
                b,
                (F.col("a.f") == F.col("b.f"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        }
        missing = expected_pairs - got
        assert not missing, (k, w, missing)
        # the two unrelated 200-char random docs share nothing (26^5
        # k-gram space at the smallest k makes a chance 5-gram repeat
        # across two 200-char strings vanishingly unlikely at this seed)
        assert (did, did + 1) not in got, (k, w)


def _jobs_submitted(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (its result, the
    number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_minhash_pipeline_is_one_plan_with_no_residue(spark):
    """Every MinHash-LSH intermediate has one consumer, so the pipeline
    runs as one plan materialized once: a handful of jobs (the earlier
    cache + candidate-checkpoint shape submitted 21), and the only
    persisted RDD it leaves is the returned frame's own checkpoint."""
    from soccer_data_pipeline_spark.operators.cache import persistent_rdd_ids

    docs = load_table(spark, SF_DIR, "documents")
    before = persistent_rdd_ids(spark)
    out, jobs = _jobs_submitted(
        spark,
        "minhash-one-plan",
        lambda: minhash_near_dup_pairs(
            docs, n=3, k=16, bands=4, threshold=0.5, max_bucket_size=50
        ),
    )
    assert jobs <= 8, f"minhash_near_dup_pairs submitted {jobs} jobs"
    own = int(out._jdf.queryExecution().analyzed().rdd().id())
    assert persistent_rdd_ids(spark) - before == {own}
    assert out.count() > 0


# docs for the reference test: ids 1-3 share one text (a bucket of exactly
# the cap in every band), ids 11-14 another (cap + 1), ids 21-26 are
# near-dups of one base (some bands shared, some not), ids 31-32 have
# fewer than n tokens, id 41 is unrelated.
_CAP = 3


def _reference_docs():
    import random

    rng = random.Random(10)
    vocab = [f"v{i}" for i in range(60)]
    base = rng.sample(vocab, 40)
    docs = [(i, "one two three four five six seven eight") for i in (1, 2, 3)]
    docs += [(i, "red green blue cyan magenta yellow black white") for i in (11, 12, 13, 14)]
    for i in range(21, 27):
        t = list(base)
        for _ in range(rng.randrange(1, 3)):
            t[rng.randrange(len(t))] = rng.choice(vocab)
        docs.append((i, " ".join(t)))
    docs += [(31, "short  text"), (32, "short text")]
    docs.append((41, " ".join(rng.sample(vocab, 20))))
    return docs


def _python_shingles(text, n=3):
    toks = [t for t in text.split(" ") if t != ""]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _python_buckets(sigs, bands=4, rows_per_band=4):
    """{(band, band values): sorted member ids} from collected signatures."""
    buckets: dict = {}
    for doc, h in sigs.items():
        for b in range(bands):
            key = (b, tuple(h[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc)
    return {k: sorted(v) for k, v in buckets.items()}


def _python_pairs(buckets, cap, new=None):
    out = set()
    for members in buckets.values():
        if cap is not None and len(members) > cap:
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if new is None or a in new or b in new:
                    out.add((a, b))
    return out


def test_lsh_candidates_and_verify_match_python_reference(spark):
    """Candidates and the verify against a pure-Python band-bucket and
    set-Jaccard reference: a bucket of exactly the cap is kept, one of
    cap + 1 is dropped, a pair sharing several bands yields one row, a
    doc with fewer than n tokens never pairs, and the verify's counts
    and Jaccard equal Python's."""
    from soccer_data_pipeline_spark.operators.dedup import (
        lsh_incremental_candidates,
        minhash_incremental_pairs,
    )

    rows = _reference_docs()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig_df = minhash_signatures(shingles(docs, n=3), k=16)
    sigs = {r.doc_id: [r[f"h{i}"] for i in range(16)] for r in sig_df.collect()}
    assert 31 not in sigs and 32 not in sigs  # no shingles, no signature
    buckets = _python_buckets(sigs)
    sizes = {len(m) for m in buckets.values()}
    assert _CAP in sizes and _CAP + 1 in sizes
    shared = sum(1 for m in buckets.values() if 1 in m and 2 in m)
    assert shared > 1  # the pair meets in several bands
    assert any(
        sum(1 for m in buckets.values() if a in m and b in m) == 1
        for a in range(21, 27)
        for b in range(a + 1, 27)
    )  # and some near-dup pair meets in exactly one

    for cap in (_CAP, None):
        got = [
            tuple(r)
            for r in lsh_candidate_pairs(
                sig_df, bands=4, rows_per_band=4, max_bucket_size=cap
            ).collect()
        ]
        assert len(got) == len(set(got))
        assert set(got) == _python_pairs(buckets, cap), cap
    capped = _python_pairs(buckets, _CAP)
    assert {(1, 2), (1, 3), (2, 3)} <= capped
    assert not any(a in (11, 12, 13, 14) for a, _ in capped)

    new = {d for d, _ in rows if d % 2 == 0}
    new_ids = docs.where(F.col("doc_id") % 2 == 0).select("doc_id")
    got = [
        tuple(r)
        for r in lsh_incremental_candidates(
            sig_df, new_ids, bands=4, rows_per_band=4, max_bucket_size=_CAP
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == _python_pairs(buckets, _CAP, new)

    text = dict(rows)

    def expected(pairs):
        out = set()
        for a, b in pairs:
            sa, sb = _python_shingles(text[a]), _python_shingles(text[b])
            common = len(sa & sb)
            out.add((a, b, common, len(sa), len(sb), common / (len(sa) + len(sb) - common)))
        return out

    full = minhash_near_dup_pairs(
        docs, n=3, k=16, bands=4, threshold=0.0, max_bucket_size=_CAP
    ).collect()
    assert len(full) == len(capped)
    assert {tuple(r) for r in full} == expected(capped)
    inc = minhash_incremental_pairs(
        docs, F.col("doc_id") % 2 == 0, n=3, k=16, bands=4, threshold=0.0,
        max_bucket_size=_CAP,
    ).collect()
    assert {tuple(r) for r in inc} == expected(_python_pairs(buckets, _CAP, new))


def test_spread_after_shuffle_never_shrinks_and_runs_no_job(spark):
    """An input already wider than max(defaultParallelism, shuffle
    partitions) passes through unchanged, a narrower post-shuffle frame
    is spread to that width, and neither decision executes anything."""
    from soccer_data_pipeline_spark.operators.skew import spread_after_shuffle

    target = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    wide = spark.range(1000).repartition(2 * target)
    out, jobs = _jobs_submitted(spark, "spread-wide", lambda: spread_after_shuffle(wide))
    assert jobs == 0
    assert out is wide
    assert out.rdd.getNumPartitions() == 2 * target

    shuffled = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
    out, jobs = _jobs_submitted(
        spark, "spread-narrow", lambda: spread_after_shuffle(shuffled)
    )
    assert jobs == 0
    assert out.rdd.getNumPartitions() == target
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, shuffled.collect()))
