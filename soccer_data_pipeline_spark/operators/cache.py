"""One owner per materialized intermediate, one way to free it.

An operator that reads a frame several times materializes it with
:func:`checkpoint_owned` (an eager ``localCheckpoint``: lineage cut,
blocks in the block manager) or with ``persist()`` where the plan should
keep showing the cached subtree (the DF-capped shingle table under
``dedup.ngram_jaccard`` / ``dedup.shingle_containment``), and frees it
with :func:`release`. Driver loops (connected components, star
contraction, k-core peel, BFS, BPE learning) free each round they
supersede once the next one is materialized, and everything their
result does not read before they return.

Blocks under a RETURNED frame are the caller's: they die with the frame
(ContextCleaner, after a JVM GC) or at the caller's unit-of-work
boundary, :func:`release_session_blocks`. That boundary also reclaims
the one catalog-owned persist that outlives its call, the served ANN
result of ``plans/llm_queries._served_recall``.

localCheckpoint blocks cannot be recomputed, so a release frees exactly
the RDD read off the frame itself — never a before/after diff of the
session's persisted RDDs, which a concurrent driver thread would race.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """IDs of every RDD currently persisted in the block manager —
    catalog caches, operator persists, and localCheckpoint blocks."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def checkpoint_owned(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of ``df``; the caller owns the returned
    frame's blocks and frees them with :func:`release`.

    The checkpoint RDD is registered before its job runs and the job is
    one count over it — the job an eager ``localCheckpoint`` runs — so
    a job that fails or is cancelled (a failed :func:`run_concurrently`
    sibling) frees the partial checkpoint instead of orphaning it.
    """
    out = df.localCheckpoint(eager=False)
    try:
        out._jdf.queryExecution().analyzed().rdd().count()
    except BaseException:
        release(out)
        raise
    return out


def release(*frames: DataFrame) -> None:
    """Free exactly what each frame holds: the checkpoint RDD under a
    checkpointed frame, the cache entry of a persisted one. A frame
    holding neither is a no-op, and so is a second release. Submits no
    job; a released checkpointed frame can no longer be read."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()


def run_concurrently(*thunks, spark: SparkSession) -> list:
    """Run independent job-submitting thunks on driver threads and
    return their results in thunk order (guide §2.6 "overlap
    independent jobs": FIFO scheduling back-fills executors freed by one
    job's tail with the next job's tasks).

    Use for CONSTRUCTION-side eager work that is independent by data.
    Each leg inherits the caller's JVM thread-local properties (job
    group, description, tags) plus one job tag of this call. When a leg
    raises, the siblings' jobs are cancelled by that tag, every frame a
    sibling already returned is released, and the first error is
    re-raised.
    """
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    sc = spark.sparkContext
    tag = f"run_concurrently-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        # one wrap per leg: each copies the properties into its own
        # thread, so a leg's tag changes stay out of its siblings
        legs = [inheritable_thread_target(spark)(t) for t in thunks]
    finally:
        sc.removeJobTag(tag)
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futures = [pool.submit(leg) for leg in legs]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception() is not None]
        if not failed:
            return [f.result() for f in futures]
        # a sibling between jobs starts its next one after a cancel, so
        # cancel until every leg has stopped
        while pending:
            sc.cancelJobsWithTag(tag)
            _, pending = wait(pending, timeout=0.1)
        returned = [f.result() for f in futures if f.exception() is None]
        release(*(r for r in returned if isinstance(r, DataFrame)))
        raise failed[0].exception()


def release_session_blocks(spark: SparkSession, gc: bool = False) -> int:
    """Drop EVERY persisted block in the session — catalog caches and
    all persistent RDDs — and return the number of RDDs unpersisted.

    The unit-of-work boundary of a long-lived session (bench calls it
    between queries; a service would call it between requests): any
    checkpointed frame still live becomes unreadable, and by contract
    there is none. ``gc=True`` also runs a JVM GC so ContextCleaner
    reclaims dead BROADCAST blocks (one per broadcast join); keep it to
    coarse boundaries — a forced GC per request would be pathological.
    """
    spark.catalog.clearCache()
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    if gc:
        import gc as _pygc

        _pygc.collect()  # drop py4j refs so the JVM side sees dead objects
        spark._jvm.System.gc()
    return len(rdds)
