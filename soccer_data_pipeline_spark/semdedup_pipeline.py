"""[beyond-ref] Persisted incremental SemDeDup — the semantic tier's
streaming twin of ``index_pipeline`` (r14, VERDICT r13 #4): one call
fits the base-corpus quantizer and assignment into a PERSISTED
artifact directory; a Structured Streaming consumer then decides, per
microbatch of new embeddings, which vectors are semantically redundant
against the growing corpus — under the same AvailableNow + checkpoint
+ epoch-reject contract the ANN index maintenance runs.

    fit (seeds + two deterministic Lloyd iterations on the BASE only —
         the quantizer is a base-corpus artifact, FAISS's train step)
      → persist (base rows PARTITIONED BY CELL: vec_id, embedding,
                 cell, dist_q2; centroids as a kilobyte of JSON; a
                 config stamp with tau/k/dim/epoch)
      → stream (per batch: assign in-row against the persisted
                centroids — no refit; decide via the shared
                ``operators.semdedup.decide_incremental`` core; append
                the action ledger; append KEPT rows to the base store
                so later batches dedup against them)

At 100 TB: the base store is cell-partitioned parquet, and each
batch's pair work reads ONLY the cells the batch occupies — the
batch's distinct cells resolve driver-side (≤ k ints) and the literal
IN predicate statically prunes the base scan, exactly like the ANN
index's probed-cell serving path. Pair space is (new × pruned-base) ∪
(new × new) within cells — never corpus², never even corpus × batch.

Replay discipline (foreachBatch is at-least-once): a replayed batch's
ids may already sit in the base store (the crash landed between the
base append and the checkpoint commit), so the decision path
anti-joins the batch's OWN ids out of its base read — the replay then
recomputes against exactly the base the original saw, re-appending
byte-identical action and base rows, which the loaders' deterministic
dedups collapse.

The base store is a ``cell_store``, like the ANN index: a re-fit
bumps the epoch and swaps the whole store (a crash loses no base row),
so a stream running across it fails loudly instead of deciding new
batches against swapped-out centroids.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cell_store
from .cell_store import _config_path
from .operators.kmeans import (
    GRID_Q,
    inrow_assign,
    quantize_vec,
    two_iter_lloyd_centers,
    write_json_atomic,
)
from .operators.semdedup import (
    SEMDEDUP_TAU,
    _with_norm,
    decide_incremental,
    semdedup_k,
)


def _centroids_path(out_dir: str) -> str:
    return os.path.join(out_dir, "centroids.json")


def _base_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "base")


def _actions_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "actions")


def fit_semdedup_base(
    base: DataFrame,
    out_dir: str,
    tau: float = SEMDEDUP_TAU,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fit and persist the base-corpus SemDeDup artifacts: the
    deterministic two-iteration Lloyd centroids (seeds = the k
    smallest ids, k from the corpus-size ladder unless given), and the
    base rows (vec_id, embedding, cell, dist_q2) partitioned by cell.
    Returns the persisted config dict."""
    eb = base.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
    )
    n = eb.count()
    if n == 0:
        raise ValueError("fit_semdedup_base: empty base corpus")
    if k is None:
        k = semdedup_k(n)
    # r15 shape: trainer via two bounded collects (see semdedup_assign),
    # then the stored rows come from ONE in-row assignment over a frame
    # that already carries the raw embedding — the r14 join of the
    # assignment back onto the base disappears. Bit-identical output.
    centers = two_iter_lloyd_centers(eb, k)
    stored = inrow_assign(
        base.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
        ),
        centers,
        dist_col="dist_q2",
    ).select("vec_id", "embedding", "cell", "dist_q2")

    # epoch bump, then one whole-store swap: a stream running across
    # this re-fit fails during it, and a crash in it loses no base row
    os.makedirs(out_dir, exist_ok=True)
    epoch = cell_store.replace_cells(stored, out_dir, _base_dir(out_dir))
    write_json_atomic(_centroids_path(out_dir), {"q": GRID_Q, "centers": centers})
    config = {
        "tau": tau,
        "k": k,
        "dim": len(centers[0][1]),
        "epoch": epoch,
        "schema": _base_schema(stored, centers),
    }
    write_json_atomic(_config_path(out_dir), config)
    # a re-fit declares fresh truth: the ledger of decisions against the
    # OLD base is cleared LAST, after the new base, centroids and config
    # are published (the index build's rule for its tombstones)
    shutil.rmtree(_actions_dir(out_dir), ignore_errors=True)
    return config


def _base_schema(stored: DataFrame, centers: list[tuple[int, list[int]]]) -> str:
    """The schema a parquet read infers for the base store, as DDL: the
    data columns as written, then the ``cell`` partition column, typed
    ``int`` while every cid fits in one (Spark's partition-value
    inference), else ``bigint``. A read given it runs no
    schema-inference job."""
    cols = [
        f"{f.name} {f.dataType.simpleString()}" for f in stored.schema if f.name != "cell"
    ]
    cell = "int" if all(-(2**31) <= cid < 2**31 for cid, _ in centers) else "bigint"
    return ", ".join([*cols, f"cell {cell}"])


def _load_centers(out_dir: str) -> list[tuple[int, list[int]]]:
    """The persisted centroids as the ascending-cid driver list
    ``inrow_assign`` consumes."""
    with open(_centroids_path(out_dir)) as fh:
        doc = json.load(fh)
    return sorted(
        (int(cid), [int(x) for x in cq]) for cid, cq in doc["centers"]
    )


def load_semdedup_artifacts(spark: SparkSession, out_dir: str):
    """(centroids, config dict) from a persisted directory: the
    ascending-cid ``(cid, grid_vector)`` list every batch assigns
    against, and the config stamp."""
    return _load_centers(out_dir), cell_store.read_config(out_dir)


def load_semdedup_base_rows(
    spark: SparkSession,
    out_dir: str,
    cells: list[int] | None = None,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """The persisted base rows, one per vec_id, idempotent under
    at-least-once appends (``cell_store.load_cells``), read with the
    schema the fit stamped in ``config.json`` (a config without one is
    read by inference). ``cells`` statically prunes the scan to those
    cell directories; ``exclude_ids`` anti-joins a batch's own ids out
    (the replay discipline — see module docstring)."""
    return cell_store.load_cells(
        spark,
        _base_dir(out_dir),
        "vec_id",
        schema=cell_store.read_config(out_dir).get("schema"),
        cells=cells,
        exclude=exclude_ids,
    )


def semdedup_incremental_served(
    spark: SparkSession,
    new: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Decide a NEW batch against the PERSISTED artifacts — no refit,
    no base rescan: the batch assigns in-row against the kilobyte
    centroids, its distinct cells resolve driver-side (≤ k ints), and
    the base read statically prunes to those cell directories. Returns
    (vec_id, action, cell, dist_q2) — the cell/dist columns feed the
    kept-row append."""
    centers = _load_centers(out_dir)
    config = cell_store.read_config(out_dir)
    en = new.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col), GRID_Q).alias("xq"),
    )
    # r15: the persisted centers are already a driver-held list — the
    # in-row assignment (one narrow projection) replaces the r14
    # broadcast-join + groupBy chain; bit-identical (see inrow_assign)
    a_new = (
        inrow_assign(en, centers, dist_col="dist_q2")
        .select("vec_id", "cell", "dist_q2")
        .localCheckpoint(eager=True)
    )
    cells = sorted(
        int(r["cell"]) for r in a_new.select("cell").distinct().collect()
    )
    new_ids = a_new.select("vec_id")
    base_rows = load_semdedup_base_rows(
        spark, out_dir, cells=cells, exclude_ids=new_ids
    )
    m_base = (
        base_rows.select("vec_id", "cell", "dist_q2")
        .join(_with_norm(base_rows, "vec_id", "embedding"), "vec_id")
        .withColumn("is_base", F.lit(1))
    )
    m_new = (
        a_new.join(_with_norm(new, id_col, vec_col), "vec_id")
        .withColumn("is_base", F.lit(0))
    )
    actions = decide_incremental(
        m_base.unionByName(m_new), new_ids, float(config["tau"])
    )
    return actions.join(a_new.select("vec_id", "cell", "dist_q2"), "vec_id")


def run_streaming_semdedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "vec_id bigint, label bigint, embedding array<float>",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Semantic dedup maintenance under Structured Streaming: an
    AvailableNow file stream over ``source_dir``; each microbatch is
    decided against the persisted artifacts via
    ``semdedup_incremental_served``, its action ledger appended to
    ``out_dir/actions``, and its KEPT rows appended to the
    cell-partitioned base store so later batches dedup against them.
    The checkpoint makes file progress exactly-once; replays re-append
    byte-identical rows that the loaders' dedups collapse; a batch fails
    on a moved epoch or a wrong dim (``cell_store.run_stream``). Returns
    the finished StreamingQuery."""
    _, config = load_semdedup_artifacts(spark, out_dir)

    def write(batch_df: DataFrame) -> None:
        served = semdedup_incremental_served(
            spark, batch_df, out_dir, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)  # decide ONCE, before either write
        served.select("vec_id", "action").write.mode("append").parquet(
            _actions_dir(out_dir)
        )
        kept = batch_df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).join(
            served.where(F.col("action") == "keep").select(
                "vec_id", "cell", "dist_q2"
            ),
            "vec_id",
        )
        cell_store.append_cells(kept, _base_dir(out_dir))

    return cell_store.run_stream(
        spark, source_dir, checkpoint_dir, schema, write,
        max_files_per_trigger=max_files_per_trigger, out_dir=out_dir,
        config=config, vec_col=vec_col, who="run_streaming_semdedup",
        noun="artifact",
    )


def compact_semdedup_base(
    spark: SparkSession,
    out_dir: str,
    cells: list[int] | None = None,
    min_files: int = 2,
) -> dict[int, tuple[int, int]]:
    """Small-file compaction for the base store (r14), the index's
    compactor on the same layout (``cell_store.compact_cell_partitions``:
    layout only, no epoch advance, crash-safe, the same reader-race
    scope). Centroids, cells and dists are untouched.

    Returns {cell: (n_files_before, n_files_after)}."""
    return cell_store.compact_cell_partitions(
        spark, _base_dir(out_dir), os.path.join(out_dir, "_compact_tmp"),
        cells=cells, min_files=min_files,
    )


def load_semdedup_actions(spark: SparkSession, out_dir: str) -> DataFrame:
    """The decided action ledger, idempotent under replays (one
    deterministic row per vec_id).

    Duplicate-id contract: replays append byte-identical rows, so the
    per-id collapse normally has nothing to resolve. If an
    OUT-OF-CONTRACT conflicting duplicate ever appears (same vec_id,
    different actions across batches), ``F.min`` resolves it in the
    CONSERVATIVE direction — ``drop_*`` sorts before ``keep`` and
    therefore outranks it, matching the downstream delete stream
    (run_streaming_index_deletes), which tombstones an id permanently
    on a single drop row (ADVICE r14: ``F.max`` resolved to 'keep'
    while the index had already deleted the id)."""
    df = spark.read.parquet(_actions_dir(out_dir))
    packed = df.groupBy("vec_id").agg(F.min("action").alias("action"))
    return packed
