"""The ``cell=``-partitioned parquet store under the ANN index
(``index_pipeline``, keyed on ``candidate_id``) and the SemDeDup base
(``semdedup_pipeline``, keyed on ``vec_id``): an artifact directory's
``config.json`` epoch and its ``cell=<c>/*.parquet`` data directory.
One contract for both, with ONE writer at a time: a rewrite of the
constants rows are encoded under bumps the epoch before it changes a
file, and the stream consumer rejects a batch once it has moved; a data
file is written only by a stream append or by ``_swap_cells``, so a
crash loses no row but may store one twice; ``load_cells`` reads the
copies as one deterministic row per id.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.kmeans import write_json_atomic


def _config_path(out_dir: str) -> str:
    return os.path.join(out_dir, "config.json")


def read_config(out_dir: str) -> dict:
    with open(_config_path(out_dir)) as fh:
        return json.load(fh)


def _bump_epoch_inplace(out_dir: str) -> int:
    """Advance the persisted epoch BEFORE a rewrite changes a data file:
    a stream running across a rebuild/rebalance fails its next
    microbatch assert DURING the operation, and after a crash in it.
    The rest of the config is kept (a reader mid-rewrite loads a
    complete stamp); the caller's final config write re-stamps the SAME
    epoch. Returns the new epoch, 0 for a directory with no config."""
    if not os.path.exists(_config_path(out_dir)):
        return 0
    config = read_config(out_dir)
    config["epoch"] = int(config.get("epoch", 0)) + 1
    write_json_atomic(_config_path(out_dir), config)
    return int(config["epoch"])


def read_cells(
    spark: SparkSession,
    data_dir: str,
    schema: str | None = None,
    cells: list[int] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Every stored row of ``data_dir`` (no dedup), read with ``schema``
    when given (no schema-inference job). ``cells`` is a literal IN on
    the partition column, so the scan statically prunes to those cell
    directories; the ids of ``exclude``, a one-column frame named as the
    store's key, then leave through a broadcast anti-join."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(data_dir)
    if cells is not None:
        df = df.where(F.col("cell").isin([int(c) for c in cells]))
    if exclude is not None:
        df = df.join(F.broadcast(exclude), exclude.columns[0], "left_anti")
    return df


def load_cells(
    spark: SparkSession,
    data_dir: str,
    key: str,
    schema: str | None = None,
    cells: list[int] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """One row per ``key``: ``read_cells``, then the max struct of the
    other columns per id. A replayed append stores byte-identical rows,
    so for in-contract ids any dedup is exact; this one is also
    DETERMINISTIC, so an out-of-contract re-append of an id with CHANGED
    values (an update: rebuild instead) reads as one stable row rather
    than an arbitrary-per-scan one (ADVICE r11). Its scope is the read's
    cells (r14, ADVICE r13): if an id's copies sit in DIFFERENT cells, a
    ``cells``-pruned read sees only the copies inside them, so reads
    with different cell sets may differ for that id. ``cells`` prunes
    BELOW the dedup because a filter above the groupBy cannot reach the
    scan (r13, ADVICE r12)."""
    df = read_cells(spark, data_dir, schema, cells, exclude)
    others = [c for c in df.columns if c != key]
    packed = df.groupBy(key).agg(F.max(F.struct(*others)).alias("_row"))
    return packed.select(key, *[F.col(f"_row.{c}").alias(c) for c in others])


def append_cells(df: DataFrame, data_dir: str) -> None:
    """A stream's at-least-once append of ``df``'s rows to the store."""
    df.write.mode("append").partitionBy("cell").parquet(data_dir)


def _crc(p: str) -> str:
    """The ``.<name>.crc`` checksum a Spark write leaves beside file ``p``."""
    return os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")


def _move_in(src: str, dest: str) -> int:
    """Move ``src``'s parquet files into ``dest``, each followed by its
    checksum when the write left one; returns the count of parquet files."""
    new = sorted(glob.glob(os.path.join(src, "*.parquet")))
    os.makedirs(dest, exist_ok=True)
    for p in new:
        shutil.move(p, dest)
        if os.path.exists(_crc(p)):
            shutil.move(_crc(p), dest)
    return len(new)


def _cell_ids(data_dir: str) -> list[int]:
    """The cells that have a ``cell=`` directory under ``data_dir``."""
    return sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(os.path.join(data_dir, "cell=*"))
    )


def _cell_files(data_dir: str, c: int) -> list[str]:
    return sorted(glob.glob(os.path.join(data_dir, f"cell={c}", "*.parquet")))


def _remove(paths: list[str]) -> None:
    """Remove each file of ``paths`` and then its checksum, if any."""
    for p in paths:
        os.remove(p)
        if os.path.exists(_crc(p)):
            os.remove(_crc(p))


def _swap_cells(
    df: DataFrame, tmp: str, data_dir: str, old_by_cell: dict[int, list[str]]
) -> dict[int, int]:
    """Replace the PINNED files ``old_by_cell`` with ``df``'s rows in the
    ``cell=``-partitioned store ``data_dir``, move-in-first: ONE
    ``partitionBy("cell")`` write to ``tmp`` (one file per cell), then
    EVERY cell the write produced is moved in before the first pinned
    file is removed, so a crash at any point leaves every row readable
    (at worst twice, which the loaders' dedup collapses), also for a row
    whose cell changed. Only pinned files, and their ``.crc`` checksums,
    are removed: a file another writer adds meanwhile is never touched,
    and a row for a cell outside ``old_by_cell`` is added to it. A cell
    of ``old_by_cell`` left without rows gets one zero-row file (one
    more write for all such cells): a store with no file left has no
    schema. Returns {cell: n_moved}."""
    shutil.rmtree(tmp, ignore_errors=True)
    df.repartition("cell").write.partitionBy("cell").parquet(tmp)
    written = set(_cell_ids(tmp))
    src = {
        c: os.path.join(tmp, f"cell={c}") for c in sorted(written | set(old_by_cell))
    }
    empty = [src[c] for c in sorted(set(old_by_cell) - written)]
    if empty:
        df.drop("cell").limit(0).write.parquet(empty[0])
        for d in empty[1:]:
            shutil.copytree(empty[0], d)
    moved = {
        c: _move_in(d, os.path.join(data_dir, f"cell={c}")) for c, d in src.items()
    }
    _remove([p for old in old_by_cell.values() for p in old])
    shutil.rmtree(tmp, ignore_errors=True)
    return moved


def replace_cells(
    df: DataFrame, out_dir: str, data_dir: str, cells: list[int] | None = None
) -> int:
    """The one write of a rewrite that changes the constants rows are
    encoded under: bump the epoch, then swap ``df``'s rows in for the
    files of ``cells``, pinned and keyed on the first (the cell the
    rewrite keeps: only it may get a zero-row file), or for a full
    rebuild (``cells=None``) for every file, removed once the whole write
    is in, with no zero-row file (SemDeDup cells are seed ids: no fixed
    cell is sure to exist). Emptied ``cell=`` directories then go. A
    crash loses no row; the caller publishes under the returned epoch."""
    epoch = _bump_epoch_inplace(out_dir)
    targets = _cell_ids(data_dir) if cells is None else cells
    pinned = [p for c in targets for p in _cell_files(data_dir, c)]
    tmp = os.path.join(out_dir, "_rewrite_tmp")
    _swap_cells(df, tmp, data_dir, {} if cells is None else {cells[0]: pinned})
    if cells is None:
        _remove(pinned)
    for d in glob.glob(os.path.join(data_dir, "cell=*")):
        if not os.listdir(d):
            os.rmdir(d)
    return epoch


def compact_cell_partitions(
    spark: SparkSession,
    data_dir: str,
    tmp_dir: str,
    cells: list[int] | None = None,
    min_files: int = 2,
    schema: str | None = None,
) -> dict[int, tuple[int, int]]:
    """Small-file compaction (r13): every stream microbatch lands files
    PER CELL, so a long stream turns each cell-pruned read into hundreds
    of file opens. Every target cell (default: every cell) with more
    than ``min_files`` files is rewritten to one file by one raw read
    pruned to those cells and one ``_swap_cells`` write. The stored
    multiset is preserved byte-for-byte: layout-only, so the epoch does
    NOT advance, and a crash leaves duplicates the loader collapses.

    That safety is WRITER-side: a reader that planned its file list
    before the removals can fail with missing-file errors. RETRY it; do
    NOT set ``spark.sql.files.ignoreMissingFiles``, which would serve
    the cell PARTIALLY (the old plan never lists the moved-in files).

    Returns {cell: (n_files_before, n_files_after)}."""
    if cells is None:
        cells = _cell_ids(data_dir)
    files = {int(c): _cell_files(data_dir, c) for c in cells}
    old_by_cell = {c: f for c, f in files.items() if len(f) > min_files}
    if not old_by_cell:
        return {}
    rows = read_cells(spark, data_dir, schema, sorted(old_by_cell))
    moved = _swap_cells(rows, tmp_dir, data_dir, old_by_cell)
    return {c: (len(old), moved[c]) for c, old in old_by_cell.items()}


def run_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema,
    write: Callable[[DataFrame], None],
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    config: dict | None = None,
    vec_col: str = "embedding",
    who: str = "",
    noun: str = "",
):
    """An AvailableNow file stream over ``source_dir`` that hands each
    microbatch to ``write``; the checkpoint makes file progress
    exactly-once, and a crash-replayed batch is written again (the
    at-least-once append the loader's dedup collapses). Given the
    ``config`` the caller loaded from ``out_dir``, a non-empty batch
    fails loudly first when the persisted epoch moved (its rows would be
    encoded under stale constants) or its ``vec_col`` length is not the
    config's dim (it would encode nulls and truncated slices). Returns
    the finished StreamingQuery."""
    epoch = None if config is None else int(config.get("epoch", 0))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if epoch is not None:
            head = batch_df.head(1)
            if not head:
                return
            cur = int(read_config(out_dir).get("epoch", 0))
            if cur != epoch:
                raise ValueError(
                    f"{who}: batch {batch_id} {noun} epoch advanced "
                    f"{epoch} -> {cur} (a rewrite during the stream) — "
                    f"restart the stream against the current {noun}"
                )
            got, dim = len(head[0][vec_col]), int(config["dim"])
            if got != dim:
                raise ValueError(
                    f"{who}: batch {batch_id} vector dim {got} != "
                    f"persisted {noun} dim {dim}"
                )
        write(batch_df)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
