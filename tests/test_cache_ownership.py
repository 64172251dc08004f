"""Cache ownership contract (operators/cache.py, VERDICT r2 #4).

Operators that cache intermediates must release them before returning:
after an operator call completes, the session's CacheManager holds no
catalog-owned entries, and a driver loop leaves persisted only the
checkpoints its result reads (those belong to the caller and die with
the DataFrame or at the caller's unit-of-work boundary).
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from soccer_data_pipeline_spark.operators.cache import persistent_rdd_ids
from soccer_data_pipeline_spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard,
)
from soccer_data_pipeline_spark.operators.graph import dup_clusters
from soccer_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _checkpoint_rdd_id(df) -> int:
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def _blocks_read_by(df) -> set[int]:
    """Ids of the persisted RDDs under ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return persistent_rdd_ids(df.sparkSession) & {
        int(leaves.apply(i).rdd().id())
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def test_minhash_pipeline_releases_caches(spark):
    spark.catalog.clearCache()  # isolate from other tests in the session
    docs = load_table(spark, SF_DIR, "documents")
    out = minhash_near_dup_pairs(docs, n=3, k=16, bands=4, threshold=0.5)
    assert _cache_manager_empty(spark), "minhash pipeline leaked a cache"
    assert out.count() >= 0  # result stays usable after release


def test_ngram_jaccard_releases_persist(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    out = ngram_jaccard(docs, n=3, threshold=0.2, max_df=100)
    assert _cache_manager_empty(spark), "ngram_jaccard leaked its persist"
    assert out.count() >= 0


def test_connected_components_releases_caches(spark):
    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    out = dup_clusters(edges)
    assert _cache_manager_empty(spark), "connected components leaked a cache"
    clusters = {r.doc_id: r.cluster_id for r in out.collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_result_correct_after_release(spark):
    """Released caches must not change results — pairs still verified."""
    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_near_dup_pairs(docs, n=3, k=16, bands=4, threshold=0.5)
    rows = pairs.collect()
    assert all(r.jaccard >= 0.5 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_concurrent_checkpoints_cannot_double_release(spark):
    """checkpoint_owned attributes blocks EXACTLY: two concurrent driver
    threads each checkpoint their own frame; the RDDs under the two
    frames must differ (a global pre/post diff could capture the
    sibling's blocks), and releasing one leg must leave the other leg's
    checkpointed frame readable — localCheckpoint blocks are
    unrecomputable, so a cross-release is a hard failure, not a
    slowdown."""
    from soccer_data_pipeline_spark.operators.cache import (
        checkpoint_owned,
        release,
        run_concurrently,
    )

    def leg(n: int, m: int):
        df = checkpoint_owned(spark.range(n).selectExpr("id", f"id % {m} as g"))
        return df, df.count()

    (d1, c1), (d2, c2) = run_concurrently(
        lambda: leg(50_000, 7), lambda: leg(60_000, 11), spark=spark
    )
    i1, i2 = _checkpoint_rdd_id(d1), _checkpoint_rdd_id(d2)
    assert {i1, i2} <= persistent_rdd_ids(spark), "checkpoint RDD not found"
    assert i1 != i2, "the two legs' checkpoints share an RDD"
    assert (c1, c2) == (50_000, 60_000)
    release(d1)
    assert i1 not in persistent_rdd_ids(spark)
    # leg 2's checkpoint must survive leg 1's release in full
    assert d2.count() == 60_000
    release(d2)
    assert i2 not in persistent_rdd_ids(spark)


def test_failed_leg_cancels_and_releases_siblings(spark):
    """One failing leg: run_concurrently re-raises ITS error without
    waiting for a long sibling job, cancels that job by the call's tag
    (freeing the checkpoint it was filling) and releases the frame a
    fast sibling already returned — nothing the call made stays
    persisted."""
    from soccer_data_pipeline_spark.operators.cache import (
        checkpoint_owned,
        run_concurrently,
    )

    fast_done = threading.Event()

    def bad():
        fast_done.wait(60)
        time.sleep(1.0)  # the slow leg's checkpoint job is running by now
        raise ValueError("bad leg")

    def slow():
        # sha2 of 10^9 ids: minutes of CPU alone, a handful of stored rows
        return checkpoint_owned(
            spark.range(0, 1_000_000_000, 1, 8).where(
                "sha2(cast(id as string), 256) like '0000000%'"
            )
        )

    def fast():
        out = checkpoint_owned(spark.range(1000))
        fast_done.set()
        return out

    before = persistent_rdd_ids(spark)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="bad leg"):
        run_concurrently(bad, slow, fast, spark=spark)
    assert time.perf_counter() - t0 < 30, "the call waited for the slow leg"
    assert persistent_rdd_ids(spark) - before == set()


@pytest.mark.parametrize(
    "query,kept",
    [
        ("bfs_hops_supplier", 1),
        ("kcore_peel_suppliers", 0),
        ("bpe_learn_merges", 0),
        ("bpe_learn_merges_sampled", 0),
    ],
)
def test_driver_loops_keep_only_what_the_result_reads(spark, query, kept):
    """Each driver loop frees every round it supersedes and every
    checkpoint its result does not read: after construct + execute, the
    new persisted RDDs are exactly the ones under the result, and the
    result still re-executes to the same rows."""
    from soccer_data_pipeline_spark.plans import QUERIES

    before = persistent_rdd_ids(spark)
    out = QUERIES[query].fn(spark, SF_DIR)
    rows = out.collect()
    left = persistent_rdd_ids(spark) - before
    assert len(left) == kept, f"{query} left {sorted(left)}"
    assert left == _blocks_read_by(out)
    assert rows and sorted(out.collect()) == sorted(rows)


def test_repeated_kcore_profiles_keep_block_count_flat(spark):
    """50 back-to-back k-core profiles with no unit-of-work release and
    no GC between them: the persisted-RDD set does not grow."""
    from soccer_data_pipeline_spark.operators.graph import kcore_peel_profile

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k5 + [(0, 10), (10, 11)], "u long, v long")
    before = persistent_rdd_ids(spark)
    for _ in range(50):  # two rounds: one superseded, one final
        kcore_peel_profile(edges, k=3, rounds=2).collect()
    assert persistent_rdd_ids(spark) - before == set()


def test_clean_decisions_concurrent_tiers_release_caches(spark):
    """The r16 thread-overlapped evidence tiers of clean_decisions must
    keep the cache-ownership contract: no catalog cache survives the
    call, and the result is correct/usable after release."""
    from soccer_data_pipeline_spark.operators.corpus import clean_decisions

    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    out = clean_decisions(docs, k=16, bands=4, threshold=0.5, max_bucket_size=50)
    assert _cache_manager_empty(spark), "clean_decisions leaked a cache"
    rows = out.collect()
    assert len(rows) == docs.count()
    assert {r.decision for r in rows} <= {
        "keep",
        "drop_quality",
        "drop_exact_dup",
        "drop_near_dup",
        "drop_verbatim_overlap",
    }


def test_incremental_minhash_releases_caches(spark):
    spark.catalog.clearCache()
    from soccer_data_pipeline_spark.operators.dedup import minhash_incremental_pairs

    docs = load_table(spark, SF_DIR, "documents")
    out = minhash_incremental_pairs(
        docs, F.col("doc_id") % 5 == 0, n=3, k=16, bands=4, threshold=0.5,
        max_bucket_size=50,
    )
    assert _cache_manager_empty(spark), "incremental minhash leaked a cache"
    assert out.count() >= 0
