"""ANN index-build pipeline (index_pipeline.py) — the similarity-tier
analog of the corpus-build integration tests: persisted-artifact
round-trips, streaming incremental maintenance, manifest/audit
invariants, and equality with the in-memory operators the registered
queries hash-check.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from soccer_data_pipeline_spark.index_pipeline import (
    ann_index_search,
    load_ann_index,
    load_ann_quantizers,
    rebalance_cell,
    run_ann_index_build,
    run_streaming_index_updates,
)
from soccer_data_pipeline_spark.operators.similarity import (
    ivfpq_index,
    ivfpq_search,
)
from soccer_data_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _sides(spark):
    emb = load_table(spark, SF, "embeddings")
    return emb.where(F.col("vec_id") < 10), emb.where(F.col("vec_id") >= 10)


def test_build_persist_reload_search_identical(spark, tmp_path):
    """Persisted-artifact serving == the in-memory operator: search
    through load_ann_quantizers + parquet index returns row-identical
    (query, rank) -> candidate maps to ivfpq_search on the build's own
    in-memory frames."""
    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(
        c, out_dir, n_centroids=8, m=16, n_codes=8, residual=True,
        audit_queries=q, n_probe=4, shortlist=50,
    )
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=4)
    mem = ivfpq_search(
        q, built.index, c, built.coarse, built.models,
        k=5, shortlist=50, n_probe=4, residual=True,
    )
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(served.collect()) == key(mem.collect())

    # quantizer JSON round-trip is exact (grid ints)
    coarse2, models2, config = load_ann_quantizers(out_dir)
    assert coarse2.centers_q == built.coarse.centers_q
    assert [m.centers_q for m in models2] == [m.centers_q for m in built.models]
    assert config["residual"] is True and config["m"] == 16


def test_manifest_and_audit_invariants(spark, tmp_path):
    """Per-cell manifest counts sum to the corpus; the recall audit
    (served from the persisted artifacts) passes its floor on every
    query; cells are within the configured range."""
    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(
        c, out_dir, n_centroids=8, m=16, n_codes=8, residual=True,
        audit_queries=q, n_probe=8, shortlist=200,
    )
    man = built.manifest.collect()
    assert sum(r.n_vectors for r in man) == c.count()
    assert all(0 <= r.cell < 8 for r in man)
    audit = built.audit.collect()
    assert len(audit) == 10
    bad = [r.query_id for r in audit if not r.recall_ok]
    assert not bad, f"persisted-index recall below floor for {bad}"


def test_streaming_incremental_updates_equal_one_shot(spark, tmp_path):
    """The FAISS add contract under Structured Streaming: build from a
    base slice, stream the remaining vectors as two parquet files
    through run_streaming_index_updates (AvailableNow + checkpoint),
    and the final persisted index must search row-identically to a
    one-shot index over the full corpus under the SAME quantizers —
    cells/codes are per-row functions of the persisted constants.
    A second stream run over the same directory (fresh checkpoint —
    the at-least-once replay worst case) must change nothing."""
    q, c = _sides(spark)
    base = c.where(F.col("vec_id") % 3 != 0)
    new = c.where(F.col("vec_id") % 3 == 0)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(
        base, out_dir, n_centroids=8, m=16, n_codes=8, residual=True,
    )

    src = str(tmp_path / "incoming")
    new1 = new.where(F.col("vec_id") % 2 == 0)
    new2 = new.where(F.col("vec_id") % 2 == 1)
    new1.write.parquet(src)
    new2.write.mode("append").parquet(src)

    run_streaming_index_updates(
        spark, src, out_dir, str(tmp_path / "ckpt"),
        schema=spark.read.parquet(src).schema,
    )
    stored = load_ann_index(spark, out_dir)
    assert stored.count() == c.count()

    # one-shot encode of the FULL corpus under the same quantizers
    one_shot = ivfpq_search(
        q,
        ivfpq_index(c, built.coarse, built.models, residual=True),
        c, built.coarse, built.models, k=5, shortlist=50, n_probe=4,
        residual=True,
    )
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=4)
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(served.collect()) == key(one_shot.collect())

    # replay worst case: a fresh checkpoint re-appends every file;
    # the idempotent loader must collapse it
    run_streaming_index_updates(
        spark, src, out_dir, str(tmp_path / "ckpt2"),
        schema=spark.read.parquet(src).schema,
    )
    assert load_ann_index(spark, out_dir).count() == c.count()
    served2 = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=4)
    assert key(served2.collect()) == key(one_shot.collect())


def test_raw_encoding_config_round_trip(spark, tmp_path):
    """residual=False persists and serves through the same surface
    (config stamp routes the decode), and the two encodings produce
    different stored codes on the same corpus."""
    q, c = _sides(spark)
    d_res = str(tmp_path / "res")
    d_raw = str(tmp_path / "raw")
    run_ann_index_build(c, d_res, n_centroids=8, m=16, n_codes=8, residual=True)
    run_ann_index_build(c, d_raw, n_centroids=8, m=16, n_codes=8, residual=False)
    assert load_ann_quantizers(d_raw)[2]["residual"] is False
    res_rows = {
        r.candidate_id: tuple(r[f"code{s}"] for s in range(16))
        for r in load_ann_index(spark, d_res).collect()
    }
    raw_rows = {
        r.candidate_id: tuple(r[f"code{s}"] for s in range(16))
        for r in load_ann_index(spark, d_raw).collect()
    }
    assert res_rows.keys() == raw_rows.keys()
    assert any(res_rows[i] != raw_rows[i] for i in res_rows)
    # raw serving path still returns k rows per query
    got = ann_index_search(q, c, d_raw, k=5, shortlist=50, n_probe=4)
    per_q = got.groupBy("query_id").count().collect()
    assert len(per_q) == 10 and all(r["count"] == 5 for r in per_q)


def test_rebalance_cell_splits_hot_cell_and_serves(spark, tmp_path):
    """Index lifecycle (VERDICT r11 #5): splitting the manifest-argmax
    cell grows the coarse quantizer by one, re-encodes ONLY that cell's
    members, preserves every candidate, measurably improves the max
    cell share, and the post-rebalance recall audit (served from the
    rewritten disk artifacts) passes its floor on every query."""
    import glob

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    # n_centroids=4 concentrates enough rows per cell for a visible split
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8,
                        residual=True)
    files_before = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(out_dir, "index", "cell=*", "*.parquet"))
    }
    before, after, audit = rebalance_cell(
        spark, c, out_dir, audit_queries=q, n_probe=4, shortlist=200,
    )
    b = {r.cell: r.n_vectors for r in before.collect()}
    a = {r.cell: r.n_vectors for r in after.collect()}
    hot = max(b, key=lambda x: (b[x], -x))
    # bounded-IO contract: every file of every NON-hot cell directory is
    # byte-untouched (same path, same mtime) — the rewrite only deleted
    # the hot directory and appended re-encoded rows
    untouched = {
        p: t for p, t in files_before.items()
        if f"{os.sep}cell={hot}{os.sep}" not in p
    }
    files_after = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(out_dir, "index", "cell=*", "*.parquet"))
    }
    assert untouched.items() <= files_after.items()
    assert sum(a.values()) == sum(b.values()) == c.count()
    # quantizer grew by one and the config stamp tracks it
    coarse2, _, config2 = load_ann_quantizers(out_dir)
    assert len(coarse2.centers_q) == 5 and config2["n_centroids"] == 5
    # the hot cell's load strictly decreased (its members now spread
    # over sub-cells {hot, 4} — and possibly others, by re-assignment)
    assert a.get(hot, 0) < b[hot]
    assert max(a.values()) <= max(b.values())
    # recall audit from the rewritten artifacts: floor holds per query
    rows = audit.collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not r.recall_ok]
    assert not bad, f"post-rebalance recall below floor for {bad}"
    # serving still returns k rows per query through the same surface
    got = ann_index_search(q, c, out_dir, k=5, shortlist=200, n_probe=4)
    per_q = got.groupBy("query_id").count().collect()
    assert len(per_q) == 10 and all(r["count"] == 5 for r in per_q)


def test_fit_pq_codebooks_batched_equals_per_subspace(spark):
    """r16 (VERDICT r15 #3): the one-collect batched codebook fit must
    be bit-identical to the per-subspace fit_deterministic_kmeans calls
    it replaced — same sample, same quantization, same _fit_local
    arithmetic, m times."""
    from soccer_data_pipeline_spark.functions.vectors import as_double_array
    from soccer_data_pipeline_spark.operators.kmeans import (
        fit_deterministic_kmeans,
    )
    from soccer_data_pipeline_spark.operators.similarity import fit_pq_codebooks

    _, c = _sides(spark)
    cand = c.select(
        F.col("vec_id").alias("candidate_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    m, n_codes, sub = 4, 4, 16
    batched = fit_pq_codebooks(cand, None, m=m, n_codes=n_codes, n_rows=cand.count())
    subcols = [
        F.slice(F.col("cv"), s * sub + 1, sub).alias(f"s{s}") for s in range(m)
    ]
    cand_sub = cand.select("candidate_id", *subcols)
    reference = [
        fit_deterministic_kmeans(
            cand_sub.select("candidate_id", f"s{s}"),
            k=n_codes,
            n_iters=4,
            id_col="candidate_id",
            vec_col=f"s{s}",
        )
        for s in range(m)
    ]
    for s in range(m):
        assert batched[s].centers_q == reference[s].centers_q, f"subspace {s}"
        assert batched[s].q == reference[s].q


def test_epoch_bump_failure_keeps_old_config(tmp_path, monkeypatch):
    """The JSON artifacts are replaced atomically, never truncated in
    place: a failure mid-dump while bumping the epoch leaves the
    previous config.json loadable (and no temp file behind)."""
    import json

    import pytest

    from soccer_data_pipeline_spark import index_pipeline as ip
    from soccer_data_pipeline_spark.operators.kmeans import DeterministicKMeans

    out = str(tmp_path / "idx")
    config = {"epoch": 3, "residual": True}
    ip._save_quantizers(
        out,
        DeterministicKMeans([[0, 0], [5, 5]]),
        [DeterministicKMeans([[0], [1]])],
        config,
    )

    def failing_dump(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        ip._bump_epoch_inplace(out)
    monkeypatch.undo()

    assert load_ann_quantizers(out)[2] == config
    assert sorted(os.listdir(out)) == [
        "coarse.json", "config.json", "pq_codebooks.json"
    ]


def test_streaming_rejects_mis_dimensioned_batch(spark, tmp_path):
    """ADVICE r11: a batch whose vectors do not match the persisted
    config dim fails the stream loudly instead of appending corrupt
    codes."""
    import pytest

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)

    src = str(tmp_path / "incoming")
    bad = c.limit(3).select(
        "vec_id", "label", F.slice("embedding", 1, 32).alias("embedding")
    )
    bad.write.parquet(src)
    before = load_ann_index(spark, out_dir).count()
    with pytest.raises(Exception, match="dim 32 != persisted index dim 64"):
        run_streaming_index_updates(
            spark, src, out_dir, str(tmp_path / "ckpt"),
            schema=spark.read.parquet(src).schema,
        )
    # nothing corrupt was appended
    assert load_ann_index(spark, out_dir).count() == before


def test_registered_query_serves_from_persisted_index(spark):
    """similarity_index_served (VERDICT r11 #1): the registered query's
    physical plan reads the index PARQUET from the persisted build dir
    — the serving contract is disk artifacts, not the in-process
    quantizer warm cache — and both in-plan gates are TRUE."""
    from soccer_data_pipeline_spark.plans import llm_queries

    out = llm_queries.similarity_index_served(spark, SF)
    rows = out.collect()
    assert rows and all(r.recall_ok and r.served_matches_memory for r in rows)

    out_dir = llm_queries._RUNS[("ann_index", SF)][0]
    assert os.path.isdir(os.path.join(out_dir, "index"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert out_dir in plan, "plan does not scan the persisted index dir"


def test_build_dir_once_reuses_until_a_required_subdir_is_missing(monkeypatch):
    """The plan layer's build-dir cache, without Spark: a repeat call
    returns the same dir and does not build again; a dir missing a
    required subdir (ADVICE r14: tombstones removed ⇒ rebuild) is
    dropped and built again into a new dir."""
    import shutil

    from soccer_data_pipeline_spark.plans import llm_queries

    monkeypatch.setattr(llm_queries, "_RUNS", {})
    built = []

    def build(out_dir):
        built.append(out_dir)
        for sub in ("index", "tombstones"):
            os.makedirs(os.path.join(out_dir, sub))
        return len(built)

    key = ("test_run", SF)
    first = llm_queries._build_dir_once(key, build, "index", "tombstones")
    assert llm_queries._build_dir_once(key, build, "index", "tombstones") == first
    assert built == [first[0]] and first[1] == 1

    shutil.rmtree(os.path.join(first[0], "tombstones"))
    second = llm_queries._build_dir_once(key, build, "index", "tombstones")
    assert second[0] != first[0] and second[1] == 2
    assert built == [first[0], second[0]]
    assert not os.path.exists(first[0])
    shutil.rmtree(second[0])


def test_mutating_ann_queries_fork_the_served_build(spark, monkeypatch):
    """``ann_index_rebalance`` and ``ann_index_deletes`` mutate a copy of
    the index ``similarity_index_served`` serves instead of building
    their own: from an empty run cache, constructing the three queries
    runs ``run_ann_index_build`` once, and the served dir is left as
    built (epoch 0, no tombstones)."""
    from soccer_data_pipeline_spark import index_pipeline
    from soccer_data_pipeline_spark.plans import llm_queries

    monkeypatch.setattr(llm_queries, "_RUNS", {})
    real = index_pipeline.run_ann_index_build
    builds = []

    def counting_build(*args, **kwargs):
        builds.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(index_pipeline, "run_ann_index_build", counting_build)
    for name in (
        "ann_index_rebalance", "ann_index_deletes", "similarity_index_served"
    ):
        getattr(llm_queries, name)(spark, SF)
    served_dir = llm_queries._RUNS[("ann_index", SF)][0]
    assert builds == [served_dir]
    assert load_ann_quantizers(served_dir)[2]["epoch"] == 0
    assert not os.path.exists(os.path.join(served_dir, "tombstones"))


def test_build_dirs_removed_at_process_exit():
    """A build dir the plan layer creates does not outlive its process."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from soccer_data_pipeline_spark.plans import llm_queries as m\n"
        "def build(d):\n"
        "    os.makedirs(os.path.join(d, 'index'))\n"
        "    open(os.path.join(d, 'index', 'x'), 'w').close()\n"
        "d = m._build_dir_once(('exit_test', 'sf'), build, 'index')[0]\n"
        "print(os.path.isfile(os.path.join(d, 'index', 'x')), d)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, check=True,
    )
    existed, out_dir = out.stdout.split()
    assert existed == "True"
    assert not os.path.exists(out_dir)


def test_loader_dedup_is_deterministic_on_changed_rows(spark, tmp_path):
    """ADVICE r11: out-of-contract re-stream of an existing id with a
    CHANGED embedding — the loader keeps ONE deterministic row (max
    code-struct) across repeated reads, not an arbitrary-per-scan row."""
    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)

    # append a conflicting encode of an existing id (embedding reversed)
    changed = c.limit(1).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    ivfpq_index(changed, built.coarse, built.models).write.mode(
        "append"
    ).parquet(os.path.join(out_dir, "index"))

    rows1 = {r.candidate_id: r for r in load_ann_index(spark, out_dir).collect()}
    rows2 = {r.candidate_id: r for r in load_ann_index(spark, out_dir).collect()}
    assert len(rows1) == c.count()
    assert {k: tuple(v) for k, v in rows1.items()} == {
        k: tuple(v) for k, v in rows2.items()
    }


def test_serving_scan_statically_prunes_to_probed_cells(spark, tmp_path):
    """ADVICE r12: the serving path resolves the query batch's probed
    cells driver-side and filters the RAW index read below the loader's
    dedup, so the cell predicate lands in the scan's PartitionFilters
    (static pruning — not dependent on DPP through the aggregate) and
    only the probed cells' directories are read."""
    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                        residual=True)
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=2)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = served._jdf.queryExecution().explainString(mode)
    index_scans = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and f"{out_dir}/index" in b
    ]
    assert index_scans, "no parquet scan over the index directory in the plan"
    for b in index_scans:
        pf = b.split("PartitionFilters: [")[1].split("]")[0]
        assert "cell" in pf and " IN " in pf, (
            f"index scan PartitionFilters [{pf}] — cell pruning "
            "did not reach the scan"
        )

    # pruning is exact: the pruned serving result is row-identical to a
    # search over the UNPRUNED loader output under the same quantizers
    from soccer_data_pipeline_spark.index_pipeline import (
        load_ann_quantizers as _lq,
    )

    coarse, models, config = _lq(out_dir)
    unpruned = ivfpq_search(
        q, load_ann_index(spark, out_dir), c, coarse, models,
        k=5, shortlist=50, n_probe=2, residual=True,
    )
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(served.collect()) == key(unpruned.collect())


def test_serving_plan_with_tombstones_prunes_and_broadcasts(spark, tmp_path):
    """r14 deletion path plan shape: with tombstones pending, the
    serving plan must KEEP the static cell PartitionFilters (the
    anti-join sits above the pruned scan, not below it) and execute
    the tombstone exclusion as a broadcast left-anti join — never a
    shuffled join against the kilobyte tombstone frame."""
    from soccer_data_pipeline_spark.index_pipeline import delete_ids

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                        residual=True)
    delete_ids(spark, out_dir, [int(c.orderBy("vec_id").first().vec_id)])
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=2)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = served._jdf.queryExecution().explainString(mode)
    index_scans = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and f"{out_dir}/index" in b
    ]
    assert index_scans, "no parquet scan over the index directory in the plan"
    for b in index_scans:
        pf = b.split("PartitionFilters: [")[1].split("]")[0]
        assert "cell" in pf and " IN " in pf, (
            f"index scan PartitionFilters [{pf}] — tombstone anti-join "
            "broke static cell pruning"
        )
    anti = [
        ln for ln in plan.splitlines()
        if "LeftAnti" in ln and "BroadcastHashJoin" in ln
    ]
    assert anti, "tombstone exclusion is not a broadcast left-anti join"


def test_rebalance_refuses_uncovered_members(spark, tmp_path):
    """ADVICE r12: rebalancing with a `candidates` frame that does not
    cover every hot-cell member (the base corpus after streamed
    appends) raises BEFORE deleting anything — the index must never
    silently shrink."""
    import pytest

    _, c = _sides(spark)
    base = c.where(F.col("vec_id") % 3 != 0)
    new = c.where(F.col("vec_id") % 3 == 0)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(base, out_dir, n_centroids=4, m=16, n_codes=8)
    # stream-style append of the remaining vectors under the same quantizers
    ivfpq_index(new, built.coarse, built.models).write.mode(
        "append"
    ).partitionBy("cell").parquet(os.path.join(out_dir, "index"))
    n_total = load_ann_index(spark, out_dir).count()
    assert n_total == c.count()

    with pytest.raises(ValueError, match="missing from `candidates`"):
        rebalance_cell(spark, base, out_dir)
    # nothing was deleted or rewritten
    assert load_ann_index(spark, out_dir).count() == n_total
    assert len(load_ann_quantizers(out_dir)[0].centers_q) == 4

    # the full corpus passes the guard and rebalances normally
    before, after, _ = rebalance_cell(spark, c, out_dir)
    assert sum(r.n_vectors for r in after.collect()) == n_total


def test_stream_across_rebalance_rejects_stale_epoch(spark, tmp_path):
    """VERDICT r12 #2: a stream that loaded its quantizers BEFORE a
    rebalance must fail its next microbatch loudly (epoch assert), not
    append rows encoded under the stale quantizer into the new layout."""
    from unittest.mock import patch

    import pytest

    from soccer_data_pipeline_spark import index_pipeline

    _, c = _sides(spark)
    base = c.where(F.col("vec_id") % 3 != 0)
    new = c.where(F.col("vec_id") % 3 == 0)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(base, out_dir, n_centroids=4, m=16, n_codes=8)
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 0

    # the stream's view of the world: quantizers as of stream start
    stale = load_ann_quantizers(out_dir)

    # rebalance lands mid-stream — epoch bumps on disk
    rebalance_cell(spark, base, out_dir)
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 1

    src = str(tmp_path / "incoming")
    new.write.parquet(src)
    n_before = load_ann_index(spark, out_dir).count()
    with patch.object(index_pipeline, "load_ann_quantizers", return_value=stale):
        with pytest.raises(Exception, match="epoch advanced 0 -> 1"):
            run_streaming_index_updates(
                spark, src, out_dir, str(tmp_path / "ckpt"),
                schema=spark.read.parquet(src).schema,
            )
    # the stale batch appended nothing
    assert load_ann_index(spark, out_dir).count() == n_before

    # a RESTARTED stream (current quantizers, epoch 1 == 1) succeeds
    run_streaming_index_updates(
        spark, src, out_dir, str(tmp_path / "ckpt2"),
        schema=spark.read.parquet(src).schema,
    )
    assert load_ann_index(spark, out_dir).count() == c.count()


def test_compact_index_cells_bounded_and_lossless(spark, tmp_path):
    """Index lifecycle: small-file compaction (r13) — repeated
    streaming-style appends fragment each cell directory; compaction
    rewrites ONLY the targeted cells into one file each, preserves the
    loader's output exactly (same rows, same search results), leaves
    non-target cells byte-untouched, and does NOT advance the epoch
    (layout-only rewrite — a running stream stays valid)."""
    import glob

    from soccer_data_pipeline_spark.index_pipeline import compact_index_cells

    q, c = _sides(spark)
    base = c.where(F.col("vec_id") % 4 == 1)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(base, out_dir, n_centroids=4, m=16, n_codes=8)
    # three streaming-style appends fragment every cell directory
    for m_ in (2, 3, 0):
        ivfpq_index(
            c.where(F.col("vec_id") % 4 == m_), built.coarse, built.models
        ).write.mode("append").partitionBy("cell").parquet(
            os.path.join(out_dir, "index")
        )

    def files(cell):
        return sorted(
            glob.glob(os.path.join(out_dir, "index", f"cell={cell}", "*.parquet"))
        )

    rows_before = sorted(
        map(tuple, load_ann_index(spark, out_dir).collect())
    )
    served_before = sorted(
        map(tuple, ann_index_search(q, c, out_dir, k=5, n_probe=4).collect())
    )
    counts_before = {cell: len(files(cell)) for cell in range(4)}
    fragmented = [cell for cell, n in counts_before.items() if n > 2]
    assert fragmented, "appends did not fragment any cell"
    target = fragmented[0]
    others_mtimes = {
        p: os.stat(p).st_mtime_ns
        for cell in range(4)
        if cell != target
        for p in files(cell)
    }
    epoch_before = load_ann_quantizers(out_dir)[2]["epoch"]

    result = compact_index_cells(spark, out_dir, cells=[target])
    assert result == {target: (counts_before[target], 1)}
    assert len(files(target)) == 1
    # non-target cells byte-untouched; epoch unchanged
    assert others_mtimes == {
        p: os.stat(p).st_mtime_ns
        for cell in range(4)
        if cell != target
        for p in files(cell)
    }
    assert load_ann_quantizers(out_dir)[2]["epoch"] == epoch_before
    # lossless: loader rows and search results identical
    assert rows_before == sorted(
        map(tuple, load_ann_index(spark, out_dir).collect())
    )
    assert served_before == sorted(
        map(tuple, ann_index_search(q, c, out_dir, k=5, n_probe=4).collect())
    )

    # several cells in one call: each folds to one file
    a, b = fragmented[1:3]
    assert compact_index_cells(spark, out_dir, cells=[a, b]) == {
        a: (counts_before[a], 1),
        b: (counts_before[b], 1),
    }
    assert rows_before == sorted(
        map(tuple, load_ann_index(spark, out_dir).collect())
    )

    # default sweep compacts every remaining fragmented cell
    swept = compact_index_cells(spark, out_dir, min_files=1)
    assert all(after == 1 for _, after in swept.values())
    assert rows_before == sorted(
        map(tuple, load_ann_index(spark, out_dir).collect())
    )


def test_rebuild_in_place_advances_epoch_and_rejects_stale_stream(spark, tmp_path):
    """An in-place REBUILD over an existing index directory must also
    advance the epoch (a rebuild that reset it to 0 would let a stream
    started before it pass the 0 == 0 check against CHANGED
    quantizers) — same reject discipline as the rebalance case."""
    from unittest.mock import patch

    import pytest

    from soccer_data_pipeline_spark import index_pipeline

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 0
    stale = load_ann_quantizers(out_dir)

    # rebuild in place with a DIFFERENT quantizer config
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 1

    src = str(tmp_path / "incoming")
    c.limit(5).write.parquet(src)
    n_before = load_ann_index(spark, out_dir).count()
    with patch.object(index_pipeline, "load_ann_quantizers", return_value=stale):
        with pytest.raises(Exception, match="epoch advanced 0 -> 1"):
            run_streaming_index_updates(
                spark, src, out_dir, str(tmp_path / "ckpt"),
                schema=spark.read.parquet(src).schema,
            )
    assert load_ann_index(spark, out_dir).count() == n_before


def test_delete_ids_hidden_immediately_and_survivor_identical(spark, tmp_path):
    """Deletion contract (r14, VERDICT r13 #1): tombstoned ids vanish
    from every read and search IMMEDIATELY (no file rewrite), serving
    over the survivors is row-identical to an in-memory search over an
    encode of the SURVIVING corpus under the same quantizers, and
    re-appending a deleted id does not resurrect it."""
    from soccer_data_pipeline_spark.index_pipeline import delete_ids

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(
        c, out_dir, n_centroids=8, m=16, n_codes=8, residual=True,
    )
    # delete each query's served top-1 — ids that WOULD be returned
    top1 = ann_index_search(q, c, out_dir, k=1, shortlist=50, n_probe=8)
    doomed = sorted({int(r.candidate_id) for r in top1.collect()})
    index_files_before = {
        p: os.stat(p).st_mtime_ns
        for p in _all_index_files(out_dir)
    }
    n = delete_ids(spark, out_dir, doomed)
    assert n == len(doomed)
    # O(|ids|) writer: no index file touched
    assert index_files_before == {
        p: os.stat(p).st_mtime_ns for p in _all_index_files(out_dir)
    }

    stored = load_ann_index(spark, out_dir)
    assert stored.where(F.col("candidate_id").isin(doomed)).count() == 0
    survivors = c.where(~F.col("vec_id").isin(doomed))
    assert stored.count() == survivors.count()

    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=8)
    assert served.where(F.col("candidate_id").isin(doomed)).count() == 0
    mem = ivfpq_search(
        q, ivfpq_index(survivors, built.coarse, built.models, residual=True),
        survivors, built.coarse, built.models,
        k=5, shortlist=50, n_probe=8, residual=True,
    )
    key = lambda rs: {(r.query_id, r.rn): r.candidate_id for r in rs}  # noqa: E731
    assert key(served.collect()) == key(mem.collect())

    # idempotent re-delete; a DataFrame of ids (any column name) works
    delete_ids(spark, out_dir, q.sparkSession.createDataFrame(
        [(doomed[0],)], "vec_id bigint"
    ))
    assert load_ann_index(spark, out_dir).count() == survivors.count()

    # a tombstone outranks an append: re-streaming a deleted id's row
    # does not resurrect it
    ivfpq_index(
        c.where(F.col("vec_id") == doomed[0]), built.coarse, built.models,
        residual=True,
    ).write.mode("append").partitionBy("cell").parquet(
        os.path.join(out_dir, "index")
    )
    assert (
        load_ann_index(spark, out_dir)
        .where(F.col("candidate_id") == doomed[0])
        .count()
        == 0
    )


def _all_index_files(out_dir):
    import glob

    return sorted(
        glob.glob(os.path.join(out_dir, "index", "cell=*", "*.parquet"))
    )


def test_purge_deleted_bounded_rewrite_preserves_tombstones(spark, tmp_path):
    """purge_deleted physically reclaims tombstoned rows: only the
    affected cells' files are rewritten (untouched cells byte-
    identical), the RAW parquet no longer contains the ids, search
    output is unchanged by the purge, and the epoch does not advance
    (layout-only — streams stay valid). The tombstone store is
    PRESERVED by default (compacted) — a checkpoint-lost replay that
    re-appends a purged id must still find it hidden (review r14) —
    and cleared only with the explicit opt-in flag."""
    import glob

    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        load_tombstones,
        purge_deleted,
    )

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    raw = spark.read.parquet(os.path.join(out_dir, "index"))
    # tombstone every member of ONE cell plus one member of another —
    # exactly two affected cells
    cells = sorted(
        int(r.cell) for r in raw.select("cell").distinct().collect()
    )
    doomed = [
        int(r.candidate_id)
        for r in raw.where(F.col("cell") == cells[0]).collect()
    ] + [
        int(
            raw.where(F.col("cell") == cells[1])
            .orderBy("candidate_id")
            .first()
            .candidate_id
        )
    ]
    delete_ids(spark, out_dir, doomed)
    served_before = sorted(
        map(tuple, ann_index_search(q, c, out_dir, k=5, n_probe=8).collect())
    )
    untouched_mtimes = {
        p: os.stat(p).st_mtime_ns
        for p in _all_index_files(out_dir)
        if f"cell={cells[0]}" not in p and f"cell={cells[1]}" not in p
    }

    purged = purge_deleted(spark, out_dir)
    assert set(purged) == {cells[0], cells[1]}
    assert sum(purged.values()) == len(doomed)
    # store preserved (compacted to one deduped file) — NOT cleared
    tomb_after = load_tombstones(spark, out_dir)
    assert tomb_after is not None
    assert {int(r.candidate_id) for r in tomb_after.collect()} == set(doomed)
    raw2 = spark.read.parquet(os.path.join(out_dir, "index"))
    assert raw2.where(F.col("candidate_id").isin(doomed)).count() == 0
    assert raw2.count() == c.count() - len(doomed)
    assert untouched_mtimes == {
        p: os.stat(p).st_mtime_ns
        for p in _all_index_files(out_dir)
        if f"cell={cells[0]}" not in p and f"cell={cells[1]}" not in p
    }
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 0
    assert served_before == sorted(
        map(tuple, ann_index_search(q, c, out_dir, k=5, n_probe=8).collect())
    )
    # each removed file's checksum went with it
    for d in glob.glob(os.path.join(out_dir, "index", "cell=*")):
        names = set(os.listdir(d))
        orphans = [
            n for n in names
            if n.endswith(".crc") and n[1:-len(".crc")] not in names
        ]
        assert not orphans, (d, orphans)

    # the replay worst case the standing store exists for: a purged
    # id's row re-appended (index append committed, checkpoint lost)
    # stays hidden
    coarse, models, _cfg = load_ann_quantizers(out_dir)
    ivfpq_index(
        c.where(F.col("vec_id") == doomed[0]), coarse, models,
        residual=bool(_cfg["residual"]),
    ).write.mode("append").partitionBy("cell").parquet(
        os.path.join(out_dir, "index")
    )
    assert (
        load_ann_index(spark, out_dir)
        .where(F.col("candidate_id") == doomed[0])
        .count()
        == 0
    )

    # explicit opt-in clears the store; then purge is a no-op
    purge_deleted(spark, out_dir, clear_tombstones=True)
    assert purge_deleted(spark, out_dir) == {}


def _one_id_per_cell(spark, out_dir, n_cells):
    """The smallest candidate id of each of the first ``n_cells`` cells."""
    raw = spark.read.parquet(os.path.join(out_dir, "index"))
    return [
        int(r.candidate_id)
        for r in raw.groupBy("cell")
        .agg(F.min("candidate_id").alias("candidate_id"))
        .orderBy("cell")
        .limit(n_cells)
        .collect()
    ]


def _jobs_submitted(spark, group, fn):
    """Run ``fn`` under job group ``group``; return the number of Spark
    jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_purge_job_count_is_constant_in_affected_cells(spark, tmp_path):
    """purge_deleted rewrites every affected cell in one partitioned
    write, so the Spark jobs it submits do not grow with the number of
    cells holding tombstoned rows (a per-cell rewrite loop added about
    ten jobs per cell)."""
    import shutil

    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    base = str(tmp_path / "base")
    run_ann_index_build(c, base, n_centroids=8, m=16, n_codes=8)
    jobs, purged = {}, {}
    for n_cells in (2, 6):
        out_dir = str(tmp_path / f"ann{n_cells}")
        shutil.copytree(base, out_dir)
        delete_ids(spark, out_dir, _one_id_per_cell(spark, out_dir, n_cells))
        jobs[n_cells] = _jobs_submitted(
            spark, f"purge-{n_cells}-cells",
            lambda: purged.update({n_cells: purge_deleted(spark, out_dir)}),
        )
    assert [len(purged[n]) for n in (2, 6)] == [2, 6]
    assert jobs[2] == jobs[6], jobs


def test_served_search_collects_the_batch_once_and_probes_with_no_job(
    spark, tmp_path
):
    """A served search collects its query batch once and ranks the probed
    cells on the driver: ``probe_cell_ids`` on a collected batch submits
    no Spark job, and one ``ann_index_search(...).collect()`` with
    tombstones pending submits 8 jobs. Before the query side became a
    local relation it submitted 12: two for the probe's distinct
    collect and one schema-inference job each for the index and
    tombstone reads, where now one collect of the batch serves both the
    probe and the search. A tombstone store read with Spark cost one
    more job (9), where the driver-read ids are a local relation."""
    from soccer_data_pipeline_spark.index_pipeline import delete_ids
    from soccer_data_pipeline_spark.operators.similarity import (
        collect_queries,
        probe_cell_ids,
    )

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                                residual=True)
    delete_ids(spark, out_dir, [10, 11])
    batch = collect_queries(q)
    cells = []
    assert _jobs_submitted(
        spark, "probe-batch",
        lambda: cells.extend(probe_cell_ids(batch, built.coarse, 4)),
    ) == 0
    assert cells == probe_cell_ids(q, built.coarse, 4)
    assert _jobs_submitted(
        spark, "served-search",
        lambda: ann_index_search(q, c, out_dir, k=5, shortlist=50,
                                 n_probe=4).collect(),
    ) == 8


def _tombstone_set(spark, out_dir):
    from soccer_data_pipeline_spark.index_pipeline import load_tombstones

    tomb = load_tombstones(spark, out_dir)
    return sorted(int(r.candidate_id) for r in tomb.collect())


def _tombstone_files(out_dir):
    import glob

    return sorted(glob.glob(os.path.join(out_dir, "tombstones", "*.parquet")))


def test_delete_and_purge_job_counts(spark, tmp_path):
    """A delete of a list of ids submits no Spark job, and a purge of a
    store of two tombstone files submits 5 or fewer (10 when the store
    was read, deduped, counted per cell and compacted with Spark)."""
    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    doomed = _one_id_per_cell(spark, out_dir, 4)
    assert _jobs_submitted(
        spark, "delete-list", lambda: delete_ids(spark, out_dir, doomed[:2])
    ) == 0
    delete_ids(spark, out_dir, doomed[2:])
    assert len(_tombstone_files(out_dir)) == 2
    purged = {}
    jobs = _jobs_submitted(
        spark, "purge-two-files",
        lambda: purged.update(purge_deleted(spark, out_dir)),
    )
    assert jobs <= 5, jobs
    assert sum(purged.values()) == 4
    assert len(_tombstone_files(out_dir)) == 1
    assert _tombstone_set(spark, out_dir) == sorted(doomed)


def test_delete_ids_dataframe_counts_distinct_non_null_ids(spark, tmp_path):
    """A DataFrame of ids with duplicates and a null writes, and counts,
    each distinct non-null id once."""
    import pyarrow.parquet as pq

    from soccer_data_pipeline_spark.index_pipeline import delete_ids

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    ids = spark.createDataFrame(
        [(12,), (11,), (12,), (None,), (11,), (13,)], "doc bigint"
    )
    assert delete_ids(spark, out_dir, ids) == 3
    (f,) = _tombstone_files(out_dir)
    stored = pq.read_table(f).column("candidate_id").to_pylist()
    assert sorted(stored) == [11, 12, 13]
    assert _tombstone_set(spark, out_dir) == [11, 12, 13]
    assert load_ann_index(spark, out_dir).where(
        F.col("candidate_id").isin(11, 12, 13)
    ).count() == 0


def test_delete_ids_crash_before_publish_keeps_the_previous_set(
    spark, tmp_path, monkeypatch
):
    """A delete that dies at the rename publishing its file adds no
    ``*.parquet`` file: the store loads the set it held before, and the
    next delete lands."""
    import pytest

    from soccer_data_pipeline_spark import index_pipeline
    from soccer_data_pipeline_spark.index_pipeline import delete_ids

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    delete_ids(spark, out_dir, [20, 21])
    files = _tombstone_files(out_dir)

    def replace(*a, **kw):
        raise OSError("injected crash")

    monkeypatch.setattr(index_pipeline.os, "replace", replace)
    with pytest.raises(OSError, match="injected crash"):
        delete_ids(spark, out_dir, [22, 23])
    monkeypatch.undo()
    assert _tombstone_files(out_dir) == files
    assert _tombstone_set(spark, out_dir) == [20, 21]
    assert load_ann_index(spark, out_dir).where(
        F.col("candidate_id").isin(22, 23)
    ).count() == 2

    delete_ids(spark, out_dir, [22])
    assert _tombstone_set(spark, out_dir) == [20, 21, 22]


def test_purge_crash_after_compacted_store_publishes_converges(
    spark, tmp_path, monkeypatch
):
    """A purge that dies after its compacted tombstone file is published,
    before the pinned files are removed, still loads every tombstoned
    id; the next purge leaves the store as one file of the same ids."""
    import pytest

    from soccer_data_pipeline_spark import index_pipeline
    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    doomed = _one_id_per_cell(spark, out_dir, 3)
    delete_ids(spark, out_dir, doomed[:2])
    delete_ids(spark, out_dir, doomed[1:])
    tomb_dir = os.path.join(out_dir, "tombstones")
    real = os.remove

    def remove(path, *a, **kw):
        if str(path).startswith(tomb_dir):
            raise OSError("injected crash")
        return real(path, *a, **kw)

    monkeypatch.setattr(index_pipeline.os, "remove", remove)
    with pytest.raises(OSError, match="injected crash"):
        purge_deleted(spark, out_dir)
    monkeypatch.undo()
    assert len(_tombstone_files(out_dir)) == 3
    assert _tombstone_set(spark, out_dir) == sorted(doomed)
    assert load_ann_index(spark, out_dir).count() == c.count() - 3

    assert purge_deleted(spark, out_dir) == {}
    assert len(_tombstone_files(out_dir)) == 1
    assert _tombstone_set(spark, out_dir) == sorted(doomed)


def test_empty_query_batch_serves_an_empty_frame(spark, tmp_path):
    """A 0-row query batch returns a 0-row frame with the schema of a
    non-empty search, through ``ann_index_search`` and ``ivfpq_search``."""
    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                                residual=True)
    full = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=4)
    none = q.where(F.lit(False))
    for df in (
        ann_index_search(none, c, out_dir, k=5, shortlist=50, n_probe=4),
        ivfpq_search(none, built.index, c, built.coarse, built.models,
                     k=5, shortlist=50, n_probe=4, residual=True),
    ):
        assert df.schema == full.schema
        assert df.collect() == []


def test_n_probe_above_k_probes_every_cell(spark, tmp_path):
    """``n_probe`` larger than the k cells probes all k (the old SQL
    ``slice`` semantics): the probe list is every cell and the served
    rows equal an ``n_probe = k`` search."""
    from soccer_data_pipeline_spark.operators.similarity import probe_cell_ids

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                                residual=True)
    assert probe_cell_ids(q, built.coarse, 50) == list(range(8))
    rows = lambda n: sorted(map(tuple, ann_index_search(  # noqa: E731
        q, c, out_dir, k=5, shortlist=50, n_probe=n).collect()))
    assert rows(50) == rows(8)


def test_purge_of_every_row_leaves_a_readable_empty_index(spark, tmp_path):
    """Purging every row keeps one zero-row file per cell: a store with
    no parquet file left has no schema, so every later read (and the
    next purge) would fail instead of seeing an empty index."""
    import glob

    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    delete_ids(spark, out_dir, [int(r.vec_id) for r in c.collect()])
    assert sum(purge_deleted(spark, out_dir).values()) == c.count()
    cell_dirs = glob.glob(os.path.join(out_dir, "index", "cell=*"))
    assert len(cell_dirs) == 4
    assert all(
        len(glob.glob(os.path.join(d, "*.parquet"))) == 1 for d in cell_dirs
    )
    assert spark.read.parquet(os.path.join(out_dir, "index")).count() == 0
    assert load_ann_index(spark, out_dir).count() == 0
    assert purge_deleted(spark, out_dir) == {}


def _failing_second_remove(monkeypatch, under):
    """Make ``os.remove`` (as ``index_pipeline`` calls it) raise on its
    second call for a path below ``under``; other paths pass through."""
    from soccer_data_pipeline_spark import index_pipeline

    real = os.remove
    calls = []

    def remove(path, *a, **kw):
        if str(path).startswith(under):
            calls.append(path)
            if len(calls) == 2:
                raise OSError("injected crash")
        return real(path, *a, **kw)

    monkeypatch.setattr(index_pipeline.os, "remove", remove)
    return calls


def test_purge_crash_mid_swap_serves_survivors_and_converges(
    spark, tmp_path, monkeypatch
):
    """A purge over several cells that dies between moving new files in
    and removing old ones still serves no tombstoned id and every
    surviving id exactly once; a second purge leaves no tombstoned row
    in the raw parquet."""
    import pytest

    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    doomed = _one_id_per_cell(spark, out_dir, 3)
    delete_ids(spark, out_dir, doomed[:2])
    delete_ids(spark, out_dir, doomed[2:])
    survivors = sorted(
        int(r.vec_id) for r in c.where(~F.col("vec_id").isin(doomed)).collect()
    )

    def served_ids():
        served = load_ann_index(spark, out_dir).select("candidate_id")
        return sorted(int(r.candidate_id) for r in served.collect())

    def raw_doomed():
        return (
            spark.read.parquet(os.path.join(out_dir, "index"))
            .where(F.col("candidate_id").isin(doomed))
            .count()
        )

    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        purge_deleted(spark, out_dir)
    monkeypatch.undo()
    assert len(calls) == 2
    assert raw_doomed() > 0  # the crash left the rewrite half done
    assert served_ids() == survivors

    purge_deleted(spark, out_dir)
    assert raw_doomed() == 0
    assert served_ids() == survivors


def test_compact_crash_mid_swap_keeps_loader_rows(
    spark, tmp_path, monkeypatch
):
    """A compaction over several cells that dies between moving the
    compacted files in and removing the old ones changes no loader row;
    re-running it finishes the job with the same rows."""
    import glob

    import pytest

    from soccer_data_pipeline_spark.index_pipeline import compact_index_cells

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    built = run_ann_index_build(
        c.where(F.col("vec_id") % 2 == 0), out_dir,
        n_centroids=4, m=16, n_codes=8,
    )
    ivfpq_index(
        c.where(F.col("vec_id") % 2 == 1), built.coarse, built.models
    ).write.mode("append").partitionBy("cell").parquet(
        os.path.join(out_dir, "index")
    )

    def rows():
        return sorted(map(tuple, load_ann_index(spark, out_dir).collect()))

    rows_before = rows()
    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        compact_index_cells(spark, out_dir, min_files=1)
    monkeypatch.undo()
    assert len(calls) == 2
    assert rows() == rows_before

    assert compact_index_cells(spark, out_dir, min_files=1)
    assert all(
        len(glob.glob(os.path.join(d, "*.parquet"))) == 1
        for d in glob.glob(os.path.join(out_dir, "index", "cell=*"))
    )
    assert rows() == rows_before


def test_rebuild_clears_tombstones_and_rebalance_skips_deleted(spark, tmp_path):
    """A full in-place rebuild declares fresh truth (stale tombstones
    must not hide a legitimately re-added id), and rebalance_cell
    treats tombstoned ids as non-members (the coverage guard does not
    demand vectors the corpus dropped; the rewrite purges them)."""
    from soccer_data_pipeline_spark.index_pipeline import delete_ids

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    some_id = int(c.orderBy("vec_id").first().vec_id)
    delete_ids(spark, out_dir, [some_id])
    assert (
        load_ann_index(spark, out_dir)
        .where(F.col("candidate_id") == some_id)
        .count()
        == 0
    )
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    assert (
        load_ann_index(spark, out_dir)
        .where(F.col("candidate_id") == some_id)
        .count()
        == 1
    )

    # delete a few ids, then rebalance the hot cell with the SURVIVING
    # corpus only — the guard must not raise, and counts drop by
    # exactly the hot cell's tombstoned members (physically purged by
    # the rewrite; other cells keep theirs hidden read-side)
    manifest = load_ann_index(spark, out_dir).groupBy("cell").agg(
        F.count("*").alias("n")
    ).collect()
    hot = max(manifest, key=lambda r: (r.n, -r.cell)).cell
    hot_members = [
        int(r.candidate_id)
        for r in spark.read.parquet(os.path.join(out_dir, "index"))
        .where(F.col("cell") == hot)
        .orderBy("candidate_id")
        .limit(2)
        .collect()
    ]
    delete_ids(spark, out_dir, hot_members)
    survivors = c.where(~F.col("vec_id").isin(hot_members))
    before, after, _ = rebalance_cell(spark, survivors, out_dir, cell=int(hot))
    assert (
        sum(r.n_vectors for r in after.collect())
        == sum(r.n_vectors for r in before.collect())
    )
    assert load_ann_index(spark, out_dir).count() == survivors.count()


def test_corpus_drop_decisions_propagate_to_served_index(spark, tmp_path):
    """The corpus-build → delete → serve closure (VERDICT r13 #1): the
    semantic tier's drop decisions (the same action ledger
    run_corpus_build consumes) are deleted from a PERSISTED index, and
    the served results never contain a dropped id while every served
    id is a kept one."""
    from soccer_data_pipeline_spark.index_pipeline import delete_ids
    from soccer_data_pipeline_spark.operators.semdedup import semantic_actions

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    actions = semantic_actions(c)
    drops = actions.where(F.col("action") == "drop_semantic").select("vec_id")
    kept = {
        int(r.vec_id)
        for r in actions.where(F.col("action") == "keep").collect()
    }
    n = delete_ids(spark, out_dir, drops)
    assert n == actions.count() - len(kept)
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=8)
    served_ids = {int(r.candidate_id) for r in served.collect()}
    assert served_ids <= kept
    assert served.groupBy("query_id").count().agg(
        F.min("count")
    ).first()[0] == 5


def test_merge_cells_inverse_lifecycle(spark, tmp_path):
    """merge_cells (r14, VERDICT r13 #5 — the split's inverse): merging
    two cells shrinks the quantizer k -> k-1 with counts preserved,
    re-encodes ONLY the two merged cells' members (every other cell's
    files byte-untouched; the swapped-in LAST cell's files are the
    SAME bytes under a renamed directory — codes survive the slot
    move bit-for-bit), advances the epoch, and the post-merge recall
    audit served from the rewritten artifacts passes its floor."""
    import glob

    import pytest

    from soccer_data_pipeline_spark.index_pipeline import merge_cells

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                        residual=True)
    rows_before = {
        r.candidate_id: r for r in load_ann_index(spark, out_dir).collect()
    }
    last_ids = {
        cid for cid, r in rows_before.items() if r.cell == 7
    }
    files_before = {
        p: os.stat(p).st_mtime_ns for p in _all_index_files(out_dir)
    }

    with pytest.raises(ValueError, match="must differ"):
        merge_cells(spark, c, out_dir, cell_a=2, cell_b=2)
    with pytest.raises(ValueError, match="cells must be in"):
        merge_cells(spark, c, out_dir, cell_a=0, cell_b=8)

    # merge 0 and 1 explicitly: drop=1 != last=7, so the rename path
    # runs. Audit at probe-all: the gate here checks the REWRITE kept
    # every neighbor reachable (merging two POPULOUS cells deliberately
    # costs partial-probe routing — the audit exists to measure that;
    # the production default merges the two coldest, where it doesn't)
    before, after, audit = merge_cells(
        spark, c, out_dir, cell_a=0, cell_b=1,
        audit_queries=q, n_probe=7, shortlist=200,
    )
    b = {r.cell: r.n_vectors for r in before.collect()}
    a = {r.cell: r.n_vectors for r in after.collect()}
    assert sum(a.values()) == sum(b.values()) == c.count()
    coarse2, _, config2 = load_ann_quantizers(out_dir)
    assert len(coarse2.centers_q) == 7 and config2["n_centroids"] == 7
    assert config2["epoch"] == 1
    assert set(a) <= set(range(7))

    # bounded IO: cells 2..6 byte-untouched in place; old cell 7's
    # files moved (same basename, same mtime) into cell=1
    for p, t in files_before.items():
        cell = int(p.split("cell=")[1].split(os.sep)[0])
        if 2 <= cell <= 6:
            assert os.stat(p).st_mtime_ns == t, p
        elif cell == 7:
            moved = p.replace(f"cell=7{os.sep}", f"cell=1{os.sep}")
            assert os.stat(moved).st_mtime_ns == t, p
    assert not os.path.isdir(os.path.join(out_dir, "index", "cell=7"))

    # the swapped-in cell's members: identical codes, relabeled cell
    rows_after = {
        r.candidate_id: r for r in load_ann_index(spark, out_dir).collect()
    }
    assert set(rows_after) == set(rows_before)
    code_cols = [
        f for f in rows_before[next(iter(last_ids))].asDict()
        if f not in ("candidate_id", "cell")
    ]
    for cid in last_ids:
        assert rows_after[cid].cell == 1
        assert all(
            rows_after[cid][f] == rows_before[cid][f] for f in code_cols
        ), cid

    # recall audit from the rewritten artifacts
    rows = audit.collect()
    assert len(rows) == 10
    bad = [r.query_id for r in rows if not r.recall_ok]
    assert not bad, f"post-merge recall below floor for {bad}"

    # default pick (the two coldest) merges again: k -> 6, counts kept
    before2, after2, _ = merge_cells(spark, c, out_dir)
    assert sum(r.n_vectors for r in after2.collect()) == c.count()
    coarse3, _, config3 = load_ann_quantizers(out_dir)
    assert len(coarse3.centers_q) == 6 and config3["epoch"] == 2

    # serving still returns k rows per query through the same surface
    got = ann_index_search(q, c, out_dir, k=5, shortlist=200, n_probe=4)
    per_q = got.groupBy("query_id").count().collect()
    assert len(per_q) == 10 and all(r["count"] == 5 for r in per_q)


def test_merge_cells_refuses_uncovered_members(spark, tmp_path):
    """The split's coverage guard, mirrored: merging with a
    `candidates` frame that misses a merged-cell member raises BEFORE
    any destructive step — index intact, epoch unchanged."""
    import pytest

    from soccer_data_pipeline_spark.index_pipeline import merge_cells

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    n = load_ann_index(spark, out_dir).count()
    member = int(
        spark.read.parquet(os.path.join(out_dir, "index"))
        .where(F.col("cell") == 0)
        .first()
        .candidate_id
    )
    with pytest.raises(ValueError, match="missing from `candidates`"):
        merge_cells(
            spark, c.where(F.col("vec_id") != member), out_dir,
            cell_a=0, cell_b=1,
        )
    assert load_ann_index(spark, out_dir).count() == n
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 0


def test_streaming_index_deletes_consume_decision_ledger(spark, tmp_path):
    """The corpus-CDC → index closure (r14): a decision-ledger stream
    tombstones every drop_* id out of the served index per microbatch,
    keeps pass through, a second ledger file lands incrementally, and
    a checkpoint-lost full replay changes nothing (tombstone appends
    dedup on read)."""
    from soccer_data_pipeline_spark.index_pipeline import (
        load_tombstones,
        run_streaming_index_deletes,
    )

    q, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    ids = sorted(int(r.vec_id) for r in c.select("vec_id").collect())
    batch1 = [(i, "drop_semantic" if i % 5 == 0 else "keep") for i in ids[:40]]
    batch2 = [(i, "drop_near_dup" if i % 7 == 0 else "keep") for i in ids[40:80]]
    dropped = {i for i, a in batch1 + batch2 if a != "keep"}

    src = str(tmp_path / "decisions")
    spark.createDataFrame(batch1, "vec_id bigint, action string").write.parquet(src)
    run_streaming_index_deletes(spark, src, out_dir, str(tmp_path / "ck1"))
    d1 = {i for i, a in batch1 if a != "keep"}
    assert {
        int(r.candidate_id) for r in load_tombstones(spark, out_dir).collect()
    } == d1

    spark.createDataFrame(batch2, "vec_id bigint, action string").write.mode(
        "append"
    ).parquet(src)
    run_streaming_index_deletes(spark, src, out_dir, str(tmp_path / "ck1"))
    assert {
        int(r.candidate_id) for r in load_tombstones(spark, out_dir).collect()
    } == dropped
    stored = load_ann_index(spark, out_dir)
    assert stored.count() == c.count() - len(dropped)
    served = ann_index_search(q, c, out_dir, k=5, shortlist=50, n_probe=8)
    assert served.where(F.col("candidate_id").isin(list(dropped))).count() == 0

    # checkpoint-lost full replay: same tombstone set, same loader rows
    run_streaming_index_deletes(spark, src, out_dir, str(tmp_path / "ck2"))
    assert {
        int(r.candidate_id) for r in load_tombstones(spark, out_dir).collect()
    } == dropped
    assert load_ann_index(spark, out_dir).count() == c.count() - len(dropped)


def test_swap_cells_adds_rows_for_a_cell_outside_old_by_cell(spark, tmp_path):
    """``_swap_cells`` moves in every cell its write produced: a row for
    a cell outside ``old_by_cell`` lands in that cell (a new directory
    here) and no file is removed there; the pinned cell is replaced and
    a cell the frame does not name keeps its files."""
    import glob

    from soccer_data_pipeline_spark.index_pipeline import (
        _cell_files,
        _swap_cells,
    )

    schema = "candidate_id bigint, v int, cell int"
    data_dir = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, 10, 0), (2, 20, 0), (3, 30, 1)], schema
    ).write.partitionBy("cell").parquet(data_dir)
    cell1 = {p: os.stat(p).st_mtime_ns for p in _cell_files(data_dir, 1)}

    moved = _swap_cells(
        spark.createDataFrame([(1, 11, 0), (4, 40, 5)], schema),
        str(tmp_path / "tmp"), data_dir, {0: _cell_files(data_dir, 0)},
    )
    assert moved == {0: 1, 5: 1}
    assert {p: os.stat(p).st_mtime_ns for p in _cell_files(data_dir, 1)} == cell1
    rows = spark.read.schema(schema).parquet(data_dir).collect()
    assert sorted(map(tuple, rows)) == [(1, 11, 0), (3, 30, 1), (4, 40, 5)]
    assert not glob.glob(str(tmp_path / "tmp" / "*"))


def test_fit_pq_codebooks_residual_equals_literal_centers_reference(spark):
    """The residual training sample is x − centroid[cell] with the
    centers held as data, taken after the seeded sample: on a corpus of
    the ``ann_serve`` shape (10,000 clustered 64-d vectors, 16 cells,
    m=16 residual, so the sample path runs) the codebooks are
    bit-identical to a reference fit on residuals computed over the
    whole corpus with the centers as one SQL double literal."""
    from perfbench.gen import clustered_vectors
    from soccer_data_pipeline_spark.operators.similarity import (
        _vectors,
        fit_ivfpq_quantizers,
        fit_pq_codebooks,
    )

    vecs, _ = clustered_vectors(10_000, 901)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    coarse, models = fit_ivfpq_quantizers(
        corpus, n_centroids=16, m=16, n_codes=16, residual=True
    )
    centers = "array({})".format(",".join(
        "array({})".format(",".join(repr(float(x)) + "D" for x in c))
        for c in coarse.clusterCenters()
    ))
    literal = coarse.with_cell(
        _vectors(corpus, "vec_id", "embedding", norm=False), vec_col="cv"
    ).select(
        "candidate_id",
        F.expr(
            f"zip_with(cv, element_at({centers}, cell + 1), (a, b) -> a - b)"
        ).alias("cv"),
    )
    reference = fit_pq_codebooks(literal, None, m=16, n_codes=16, n_rows=10_000)
    assert [mod.centers_q for mod in models] == [
        mod.centers_q for mod in reference
    ]


def test_fit_ivfpq_quantizers_job_count(spark, tmp_path):
    """One count feeds both fits, and each fit collects its bounded
    seeded sample once and prepares it on the driver: on a 10,000×64
    corpus read from parquet like the ``ann_serve`` one (five row
    groups), a residual fit submits 4 jobs — the count (2 under AQE)
    and one collect per sample. With a one-row dim probe, a second
    count and the residual pass in Spark it submitted 8."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.gen import clustered_vectors
    from soccer_data_pipeline_spark.operators.similarity import (
        fit_ivfpq_quantizers,
    )

    vecs, _ = clustered_vectors(10_000, 901)
    path = str(tmp_path / "corpus.parquet")
    pq.write_table(
        pa.table({
            "vec_id": np.arange(10_000, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }),
        path,
        row_group_size=2048,
    )
    corpus = spark.read.parquet(path)
    jobs = _jobs_submitted(
        spark,
        "fit-ivfpq-jobs",
        lambda: fit_ivfpq_quantizers(
            corpus, n_centroids=16, m=16, n_codes=16, residual=True
        ),
    )
    assert jobs == 4


def test_rebalance_rejects_bad_cell_before_any_write(spark, tmp_path):
    """A ``cell`` outside [0, k) or with no live member raises
    ``ValueError`` before anything is written: every index file keeps
    its mtime and the epoch does not move."""
    import pytest

    from soccer_data_pipeline_spark.index_pipeline import (
        delete_ids,
        purge_deleted,
    )

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    raw = spark.read.parquet(os.path.join(out_dir, "index"))
    cell0 = [int(r.candidate_id) for r in raw.where(F.col("cell") == 0).collect()]
    delete_ids(spark, out_dir, cell0)
    purge_deleted(spark, out_dir)
    files = {p: os.stat(p).st_mtime_ns for p in _all_index_files(out_dir)}
    epoch = load_ann_quantizers(out_dir)[2]["epoch"]

    for cell, match in ((-1, "must be in"), (4, "must be in"),
                        (0, "no live members")):
        with pytest.raises(ValueError, match=match):
            rebalance_cell(spark, c, out_dir, cell=cell)
        assert {
            p: os.stat(p).st_mtime_ns for p in _all_index_files(out_dir)
        } == files
        assert load_ann_quantizers(out_dir)[2]["epoch"] == epoch


def _assert_live_ids_once(spark, out_dir, ids):
    """After an injected crash: ``config.json`` parses and the loader
    serves every live id exactly once."""
    import json

    with open(os.path.join(out_dir, "config.json")) as fh:
        assert json.load(fh)["epoch"] >= 1
    served = [
        int(r.candidate_id)
        for r in load_ann_index(spark, out_dir).select("candidate_id").collect()
    ]
    assert sorted(served) == sorted(ids)


def test_rebalance_crash_mid_swap_keeps_every_member(
    spark, tmp_path, monkeypatch
):
    """A split that dies inside its swap (new files moved in, the second
    old file of the hot cell not yet removed) loses no member."""
    import pytest

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    ids = [int(r.vec_id) for r in c.select("vec_id").collect()]
    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        rebalance_cell(spark, c, out_dir)
    monkeypatch.undo()
    assert len(calls) == 2
    _assert_live_ids_once(spark, out_dir, ids)


def test_merge_crash_mid_swap_keeps_every_member(spark, tmp_path, monkeypatch):
    """A merge that dies inside its swap loses no member of the merged
    cells, and the last cell (not yet relabeled) is still served."""
    import pytest

    from soccer_data_pipeline_spark.index_pipeline import merge_cells

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    ids = [int(r.vec_id) for r in c.select("vec_id").collect()]
    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        merge_cells(spark, c, out_dir, cell_a=0, cell_b=1)
    monkeypatch.undo()
    assert len(calls) == 2
    assert os.path.isdir(os.path.join(out_dir, "index", "cell=7"))
    _assert_live_ids_once(spark, out_dir, ids)


def test_merge_crash_before_last_cell_move_keeps_every_member(
    spark, tmp_path, monkeypatch
):
    """A merge that dies after its swap, before the last cell's first
    file moves to the dropped slot, loses no member: the merged cells
    hold their re-encoded rows and ``cell=last`` still holds its own."""
    import pytest

    from soccer_data_pipeline_spark import index_pipeline
    from soccer_data_pipeline_spark.index_pipeline import merge_cells

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    ids = [int(r.vec_id) for r in c.select("vec_id").collect()]
    last = os.path.join(out_dir, "index", "cell=7")
    last_files = sorted(os.listdir(last))
    real = os.rename

    def rename(src, *a, **kw):
        if str(src).startswith(last + os.sep):
            raise OSError("injected crash")
        return real(src, *a, **kw)

    monkeypatch.setattr(index_pipeline.os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        merge_cells(spark, c, out_dir, cell_a=0, cell_b=1)
    monkeypatch.undo()
    assert sorted(os.listdir(last)) == last_files
    _assert_live_ids_once(spark, out_dir, ids)


def test_rebalance_and_merge_job_counts(spark, tmp_path):
    """Jobs the split and the merge submit on this index (8 cells; the
    merge is the default pick after the split): 15 and 10. A checkpoint
    of the manifest and of the re-encode, a second read of the
    checkpointed manifest, a member-id dedup and an append into
    ``index/`` in their place cost 21 and 14; deciding the re-encode's
    spread with ``df.rdd`` on the joined members cost one more job
    each (16 and 11)."""
    from soccer_data_pipeline_spark.index_pipeline import merge_cells

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8,
                        residual=True)
    split = _jobs_submitted(
        spark, "rebalance", lambda: rebalance_cell(spark, c, out_dir)
    )
    merge = _jobs_submitted(
        spark, "merge", lambda: merge_cells(spark, c, out_dir)
    )
    assert (split, merge) == (15, 10)


def test_rebuild_crash_mid_swap_keeps_every_row_and_rejects_stale_stream(
    spark, tmp_path, monkeypatch
):
    """An in-place rebuild (8 -> 4 cells) that dies inside its swap (the
    new files moved in, the second pinned removal not done) loses no
    row: every pre-rebuild id is still on disk and served once. The
    epoch has advanced, so a stream started before the rebuild rejects
    its next batch. A re-run gives the loader rows, and the cell
    directories, of a clean build into a fresh directory."""
    from unittest.mock import patch

    import pytest

    from soccer_data_pipeline_spark import index_pipeline

    _, c = _sides(spark)
    out_dir = str(tmp_path / "ann")
    run_ann_index_build(c, out_dir, n_centroids=8, m=16, n_codes=8)
    ids = [int(r.vec_id) for r in c.select("vec_id").collect()]
    stale = load_ann_quantizers(out_dir)

    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    monkeypatch.undo()
    assert len(calls) == 2
    on_disk = spark.read.parquet(os.path.join(out_dir, "index"))
    assert {int(r.candidate_id) for r in on_disk.collect()} == set(ids)
    _assert_live_ids_once(spark, out_dir, ids)

    src = str(tmp_path / "incoming")
    c.limit(5).write.parquet(src)
    with patch.object(index_pipeline, "load_ann_quantizers", return_value=stale):
        with pytest.raises(Exception, match="epoch advanced 0 -> 1"):
            run_streaming_index_updates(
                spark, src, out_dir, str(tmp_path / "ckpt"),
                schema=spark.read.parquet(src).schema,
            )

    run_ann_index_build(c, out_dir, n_centroids=4, m=16, n_codes=8)
    fresh = str(tmp_path / "fresh")
    run_ann_index_build(c, fresh, n_centroids=4, m=16, n_codes=8)

    def rows(d):
        return sorted(map(tuple, load_ann_index(spark, d).collect()))

    assert rows(out_dir) == rows(fresh)
    assert sorted(os.listdir(os.path.join(out_dir, "index"))) == sorted(
        os.listdir(os.path.join(fresh, "index"))
    )
    assert load_ann_quantizers(out_dir)[2]["epoch"] == 2
