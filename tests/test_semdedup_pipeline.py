"""Persisted incremental SemDeDup (semdedup_pipeline.py, r14 — VERDICT
r13 #4): served-vs-in-memory equality, streaming-vs-driver-loop
equality, checkpoint-loss replay idempotence, and the epoch/dim reject
disciplines mirrored from the ANN index pipeline's tests."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from soccer_data_pipeline_spark.operators.semdedup import (
    semdedup_incremental_actions,
)
from soccer_data_pipeline_spark.semdedup_pipeline import (
    fit_semdedup_base,
    load_semdedup_actions,
    load_semdedup_artifacts,
    load_semdedup_base_rows,
    run_streaming_semdedup,
    semdedup_incremental_served,
)
from soccer_data_pipeline_spark.sources import load_table

from .test_index_pipeline import _jobs_submitted

SF = "/root/testdata/sf0.001"


def _splits(spark):
    emb = load_table(spark, SF, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    return base, new


def _amap(rows):
    return {r.vec_id: r.action for r in rows}


def test_fit_persist_served_matches_in_memory_operator(spark, tmp_path):
    """The served path (persisted centroids + cell-pruned base read +
    shared decision core) must emit EXACTLY the in-memory
    ``semdedup_incremental_actions`` ledger for the same (base, new, k)
    — the artifacts change where constants live, not the decisions."""
    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    config = fit_semdedup_base(base, out_dir)
    assert config["epoch"] == 0 and config["dim"] == 64

    served = semdedup_incremental_served(spark, new, out_dir)
    mem = semdedup_incremental_actions(base, new, k=config["k"])
    assert _amap(served.collect()) == _amap(mem.collect())

    # base store round-trip: one row per base id, cells match the
    # persisted centroid ids
    rows = load_semdedup_base_rows(spark, out_dir)
    assert rows.count() == base.count()
    cent, _ = load_semdedup_artifacts(spark, out_dir)
    cids = {cid for cid, _ in cent}
    assert {int(r.cell) for r in rows.select("cell").distinct().collect()} <= cids


def test_base_loader_reads_the_stamped_schema_without_a_job(spark, tmp_path):
    """fit_semdedup_base stamps the base store's schema in config.json.
    It equals what a schema-inferring read of the store returns, the
    ``cell`` partition column's type included, so the loader returns
    the same frame schema and constructing it submits no Spark job."""
    from soccer_data_pipeline_spark import cell_store

    base, _ = _splits(spark)
    out_dir = str(tmp_path / "sem")
    config = fit_semdedup_base(base, out_dir)
    base_dir = os.path.join(out_dir, "base")
    inferred = spark.read.parquet(base_dir).schema
    assert spark.read.schema(config["schema"]).parquet(base_dir).schema == inferred
    assert str(inferred["cell"].dataType) == "IntegerType()"

    jobs = _jobs_submitted(
        spark, "semdedup-base-loader", lambda: load_semdedup_base_rows(spark, out_dir)
    )
    assert jobs == 0, jobs
    assert (
        load_semdedup_base_rows(spark, out_dir).schema
        == cell_store.load_cells(spark, base_dir, "vec_id").schema
    )


def test_streaming_equals_driver_loop_and_grows_base(spark, tmp_path):
    """Two single-file microbatches through run_streaming_semdedup must
    decide identically to the driver-side loop (served batch 1 → kept
    rows appended → served batch 2): the STREAM adds checkpointing and
    file discovery, never different decisions. Batch 2 must dedup
    against batch 1's kept rows (the growing-corpus contract)."""
    base, new = _splits(spark)
    new1 = new.where(F.col("vec_id") % 2 == 0)
    new2 = new.where(F.col("vec_id") % 2 == 1)

    # reference: the driver loop over a twin artifact directory
    ref_dir = str(tmp_path / "ref")
    fit_semdedup_base(base, ref_dir)
    s1 = semdedup_incremental_served(spark, new1, ref_dir).localCheckpoint(
        eager=True
    )
    kept1 = new1.select("vec_id", "embedding").join(
        s1.where(F.col("action") == "keep").select("vec_id", "cell", "dist_q2"),
        "vec_id",
    )
    kept1.write.mode("append").partitionBy("cell").parquet(
        os.path.join(ref_dir, "base")
    )
    s2 = semdedup_incremental_served(spark, new2, ref_dir)
    expected = _amap(s1.collect()) | _amap(s2.collect())

    # the stream: same base fit, same two batches (file order = write
    # order under AvailableNow + maxFilesPerTrigger=1)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    src = str(tmp_path / "incoming")
    new1.write.parquet(src)
    new2.write.mode("append").parquet(src)
    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt"),
        schema=spark.read.parquet(src).schema,
        max_files_per_trigger=1,
    )
    got = _amap(load_semdedup_actions(spark, out_dir).collect())
    assert got == expected
    assert set(got) == {int(r.vec_id) for r in new.collect()}
    # the base store grew by exactly the kept new rows
    n_kept = sum(1 for a in got.values() if a == "keep")
    assert (
        load_semdedup_base_rows(spark, out_dir).count()
        == base.count() + n_kept
    )


def test_checkpoint_loss_replay_is_idempotent(spark, tmp_path):
    """Worst-case at-least-once replay: lose the checkpoint and re-run
    the whole stream. Replayed batches find their own ids already in
    the base store; the exclude-own-ids discipline makes them decide
    identically, and the loaders collapse the re-appended duplicates —
    actions and base row-sets are unchanged."""
    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    src = str(tmp_path / "incoming")
    new.where(F.col("vec_id") % 2 == 0).write.parquet(src)
    new.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(src)

    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt1"),
        schema=spark.read.parquet(src).schema,
        max_files_per_trigger=1,
    )
    actions1 = _amap(load_semdedup_actions(spark, out_dir).collect())
    base1 = sorted(
        (r.vec_id, r.cell) for r in load_semdedup_base_rows(spark, out_dir).collect()
    )

    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt2"),
        schema=spark.read.parquet(src).schema,
        max_files_per_trigger=1,
    )
    assert _amap(load_semdedup_actions(spark, out_dir).collect()) == actions1
    assert sorted(
        (r.vec_id, r.cell) for r in load_semdedup_base_rows(spark, out_dir).collect()
    ) == base1


def test_stream_across_refit_rejects_stale_epoch(spark, tmp_path):
    """A stream holding pre-re-fit artifacts must fail its next
    microbatch loudly (epoch assert), not decide against swapped-out
    centroids; a restarted stream succeeds."""
    from unittest.mock import patch

    import pytest

    from soccer_data_pipeline_spark import semdedup_pipeline

    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    stale = load_semdedup_artifacts(spark, out_dir)
    assert stale[1]["epoch"] == 0

    # re-fit lands mid-stream — epoch bumps on disk
    fit_semdedup_base(base, out_dir)
    assert load_semdedup_artifacts(spark, out_dir)[1]["epoch"] == 1

    src = str(tmp_path / "incoming")
    new.limit(5).write.parquet(src)
    with patch.object(
        semdedup_pipeline, "load_semdedup_artifacts", return_value=stale
    ):
        with pytest.raises(Exception, match="epoch advanced 0 -> 1"):
            run_streaming_semdedup(
                spark, src, out_dir, str(tmp_path / "ckpt"),
                schema=spark.read.parquet(src).schema,
            )
    # nothing was decided or appended under the stale constants
    assert not os.path.isdir(os.path.join(out_dir, "actions"))

    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt2"),
        schema=spark.read.parquet(src).schema,
    )
    assert load_semdedup_actions(spark, out_dir).count() == 5


def test_stream_rejects_mis_dimensioned_source(spark, tmp_path):
    """A source whose vectors do not match the persisted dim fails the
    batch loudly (the index pipeline's ADVICE-r11 discipline)."""
    import pytest

    base, _ = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id bigint, embedding array<float>"
    ).write.parquet(src)
    with pytest.raises(Exception, match="dim 2 != persisted artifact dim 64"):
        run_streaming_semdedup(
            spark, src, out_dir, str(tmp_path / "ckpt"),
            schema="vec_id bigint, embedding array<float>",
        )


def test_refit_clears_stale_action_ledger(spark, tmp_path):
    """A re-fit declares fresh truth for the artifact directory: the
    action ledger from streams against the OLD base must not mix with
    post-re-fit decisions."""
    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    src = str(tmp_path / "incoming")
    new.limit(5).write.parquet(src)
    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt"),
        schema=spark.read.parquet(src).schema,
    )
    assert load_semdedup_actions(spark, out_dir).count() == 5
    fit_semdedup_base(base, out_dir)
    assert not os.path.isdir(os.path.join(out_dir, "actions"))
    # config carries the bumped epoch and the full stamp
    _, config = load_semdedup_artifacts(spark, out_dir)
    assert config["epoch"] == 1 and config["dim"] == 64
    with open(os.path.join(out_dir, "config.json")) as fh:
        assert json.load(fh) == config
    shutil.rmtree(src)


def test_semdedup_stream_ledger_feeds_index_deletes(spark, tmp_path):
    """Cross-pipeline closure (r14): the semdedup stream's action
    store is itself a valid source for run_streaming_index_deletes —
    semantic drops decided by one stream propagate to the served ANN
    index through the other, with no glue code. End to end: embeddings
    → ANN index; new batch → semdedup stream (action ledger);
    ledger → delete stream → dropped ids never served."""
    from soccer_data_pipeline_spark.index_pipeline import (
        ann_index_search,
        load_tombstones,
        run_ann_index_build,
        run_streaming_index_deletes,
    )

    base, new = _splits(spark)
    emb = base.unionByName(new)
    q = emb.limit(5)

    idx_dir = str(tmp_path / "idx")
    run_ann_index_build(emb, idx_dir, n_centroids=8, m=16, n_codes=8)

    sem_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, sem_dir)
    src = str(tmp_path / "incoming")
    new.write.parquet(src)
    run_streaming_semdedup(
        spark, src, sem_dir, str(tmp_path / "ck_sem"),
        schema=spark.read.parquet(src).schema,
    )
    dropped = {
        int(r.vec_id)
        for r in load_semdedup_actions(spark, sem_dir)
        .where(F.col("action") == "drop_semantic")
        .collect()
    }
    assert dropped, "fixture produced no semantic drops"

    run_streaming_index_deletes(
        spark, os.path.join(sem_dir, "actions"), idx_dir,
        str(tmp_path / "ck_del"),
    )
    assert {
        int(r.candidate_id)
        for r in load_tombstones(spark, idx_dir).collect()
    } == dropped
    served = ann_index_search(q, emb, idx_dir, k=5, shortlist=50, n_probe=8)
    assert served.where(F.col("candidate_id").isin(list(dropped))).count() == 0
    per_q = served.groupBy("query_id").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 5 for r in per_q)


def test_compact_semdedup_base_lossless_and_bounded(spark, tmp_path):
    """The base store's compaction (shared compactor, r14): after a
    multi-batch stream fragments cell directories, compacting folds
    the targeted cells to one file each, leaves non-target cells
    byte-untouched, and changes neither the loader's rows nor a
    subsequent batch's served decisions; epoch unchanged."""
    import glob

    from soccer_data_pipeline_spark.semdedup_pipeline import (
        compact_semdedup_base,
    )

    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    src = str(tmp_path / "incoming")
    new1 = new.where(F.col("vec_id") % 2 == 0)
    probe_batch = new.where(F.col("vec_id") % 2 == 1)
    new1.write.parquet(src)
    run_streaming_semdedup(
        spark, src, out_dir, str(tmp_path / "ckpt"),
        schema=spark.read.parquet(src).schema,
    )

    def files(cell):
        return sorted(
            glob.glob(
                os.path.join(out_dir, "base", f"cell={cell}", "*.parquet")
            )
        )

    cell_dirs = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(out_dir, "base"))
        if d.startswith("cell=")
    )
    counts = {c: len(files(c)) for c in cell_dirs}
    fragmented = [c for c, n in counts.items() if n > 1]
    assert fragmented, "stream did not fragment any cell"
    target = fragmented[0]
    rows_before = sorted(
        (r.vec_id, r.cell) for r in load_semdedup_base_rows(spark, out_dir).collect()
    )
    served_before = _amap(
        semdedup_incremental_served(spark, probe_batch, out_dir).collect()
    )
    others_mtimes = {
        p: os.stat(p).st_mtime_ns
        for c in cell_dirs
        if c != target
        for p in files(c)
    }
    epoch_before = load_semdedup_artifacts(spark, out_dir)[1]["epoch"]

    result = compact_semdedup_base(spark, out_dir, cells=[target], min_files=1)
    assert result == {target: (counts[target], 1)}
    assert len(files(target)) == 1
    assert others_mtimes == {
        p: os.stat(p).st_mtime_ns
        for c in cell_dirs
        if c != target
        for p in files(c)
    }
    assert load_semdedup_artifacts(spark, out_dir)[1]["epoch"] == epoch_before
    assert rows_before == sorted(
        (r.vec_id, r.cell) for r in load_semdedup_base_rows(spark, out_dir).collect()
    )
    assert served_before == _amap(
        semdedup_incremental_served(spark, probe_batch, out_dir).collect()
    )


def _base_rows_on_disk(spark, out_dir):
    """Every stored base row (no dedup), as hashable tuples."""
    return {
        (r.vec_id, tuple(r.embedding), r.cell, r.dist_q2)
        for r in spark.read.parquet(os.path.join(out_dir, "base")).collect()
    }


def test_refit_crash_mid_swap_keeps_every_base_row(spark, tmp_path, monkeypatch):
    """A re-fit that dies inside its swap (the new base files moved in,
    the second pinned removal not done) keeps every pre-re-fit base row
    on disk and the stale action ledger (it is cleared only after the
    new artifacts are published). The epoch has advanced, so a stream
    started before the re-fit rejects its next batch. A re-run gives
    the loader rows of a clean fit into a fresh directory."""
    from unittest.mock import patch

    import pytest

    from soccer_data_pipeline_spark import semdedup_pipeline
    from tests.test_index_pipeline import _failing_second_remove

    base, new = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    stale = load_semdedup_artifacts(spark, out_dir)
    ledger = os.path.join(out_dir, "actions")
    spark.createDataFrame(
        [(1, "keep")], "vec_id bigint, action string"
    ).write.parquet(ledger)
    before = _base_rows_on_disk(spark, out_dir)

    calls = _failing_second_remove(monkeypatch, out_dir)
    with pytest.raises(OSError, match="injected crash"):
        fit_semdedup_base(base, out_dir)
    monkeypatch.undo()
    assert len(calls) == 2
    assert before <= _base_rows_on_disk(spark, out_dir)
    assert load_semdedup_base_rows(spark, out_dir).count() == base.count()
    assert os.path.isdir(ledger)
    with open(os.path.join(out_dir, "config.json")) as fh:
        assert json.load(fh) == dict(stale[1], epoch=1)

    src = str(tmp_path / "incoming")
    new.limit(5).write.parquet(src)
    with patch.object(
        semdedup_pipeline, "load_semdedup_artifacts", return_value=stale
    ):
        with pytest.raises(Exception, match="epoch advanced 0 -> 1"):
            run_streaming_semdedup(
                spark, src, out_dir, str(tmp_path / "ckpt"),
                schema=spark.read.parquet(src).schema,
            )

    fit_semdedup_base(base, out_dir)
    assert not os.path.isdir(ledger)
    fresh = str(tmp_path / "fresh")
    fit_semdedup_base(base, fresh)

    def rows(d):
        return sorted(
            (r.vec_id, tuple(r.embedding), r.cell, r.dist_q2)
            for r in load_semdedup_base_rows(spark, d).collect()
        )

    assert rows(out_dir) == rows(fresh)


def test_base_loader_dedup_is_deterministic_on_changed_rows(spark, tmp_path):
    """The base store's twin of the index loader check: an
    out-of-contract re-append of an existing vec_id with a CHANGED
    embedding reads as ONE deterministic row (max struct) on every
    read."""
    base, _ = _splits(spark)
    out_dir = str(tmp_path / "sem")
    fit_semdedup_base(base, out_dir)
    base_dir = os.path.join(out_dir, "base")
    victim = int(base.agg(F.min("vec_id")).first()[0])
    spark.read.parquet(base_dir).where(F.col("vec_id") == victim).select(
        "vec_id", F.reverse("embedding").alias("embedding"), "cell", "dist_q2"
    ).write.mode("append").partitionBy("cell").parquet(base_dir)

    def read():
        return {
            r.vec_id: (tuple(r.embedding), r.cell, r.dist_q2)
            for r in load_semdedup_base_rows(spark, out_dir).collect()
        }

    rows1, rows2 = read(), read()
    assert len(rows1) == base.count()
    assert rows1 == rows2
