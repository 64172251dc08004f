"""Columnar (parquet) sources for the driver star schema.

Scans stay fully declarative so Catalyst gets predicate pushdown and
column pruning for free — verify with ``df.explain("formatted")``:
filters appear as ``PushedFilters`` and the projection as ``ReadSchema``.

Every read goes through :func:`_read_parquet`, which keeps a schema
catalog: a parquet read without a schema submits one Spark job to infer
it from the file footer, so the inferred ``StructType`` is cached in
``_SCHEMAS`` and later reads of the same file pass it to
``spark.read.schema(...)`` and submit no job.

- **What is cached: metadata only.** The catalog holds schemas, never a
  DataFrame, plan or row: every call still builds a fresh DataFrame and
  its plan executes in full. (``plans.llm_queries._RUNS`` draws the same
  line for build-time configuration: it caches build artifacts, never a
  query result.)
- **The key** is ``(realpath, st_mtime_ns, st_size, nanosAsLong)``: a
  file rewritten in place gets a new mtime or size and is inferred
  again, and a conf that changes what inference returns is part of the
  key. Only regular files are cached: rewriting one part file of a
  directory table leaves the directory's own stat unchanged, so a
  directory is inferred on every read.
- **Why the conf is pinned.** ``load_table`` sets
  ``spark.sql.legacy.parquet.nanosAsLong=true`` on every call, not only
  for ``events``. Set only for ``events``, the session conf (and so the
  key, and what any later read returned) depended on whether an
  ``events`` read had already happened. Pinning it is safe: Spark
  refuses to read a TIMESTAMP(NANOS) column at all with the conf off,
  so it changes only what would otherwise be an error.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import STAR_TABLES

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# The schema catalog (key: see the module docstring). One entry per
# file version read in the process.
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema served from the
    catalog when this version of the file was read before."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size, spark.conf.get(_NANOS_AS_LONG))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every TIMESTAMP_NTZ column to session-TZ TIMESTAMP.

    The driver's parquet files have shipped with three different time
    encodings across rounds: TIMESTAMP(NANOS) (read as bigint under the
    legacy conf), naive ``timestamp[us]`` (→ Spark TIMESTAMP_NTZ), and
    tz-aware micros (→ TIMESTAMP). Downstream operators uniformly expect
    TIMESTAMP (``unix_micros``, ``withWatermark``, ``window`` all reject
    NTZ), so the loader — not each operator — owns the conversion. The
    session TZ is pinned UTC, so NTZ → TIMESTAMP is value-identical to
    what the DuckDB oracle sees reading the same file.
    """
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from ``sf_dir``.

    Timestamp semantics are pinned to UTC on the session so results are
    identical across engines (DuckDB oracle) and cluster timezones.

    ``events.ts`` has been written as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; every table is read as raw nanos
    (legacy conf, pinned for all tables — see the module docstring) and
    ``events.ts`` is floor-truncated to microseconds — exactly what DuckDB
    does when it reads the same file, so both engines see identical
    values. Every remaining naive timestamp column (TIMESTAMP_NTZ) is
    cast to session-UTC TIMESTAMP via :func:`normalize_timestamps`.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(_NANOS_AS_LONG, "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return normalize_timestamps(df)


def register_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    """Register, as temp views for the SQL surface, the star tables that
    ``sql`` names as whole words (case-insensitive, as Spark resolves
    them). A word that only looks like a table name registers a view
    nobody reads, which is harmless; a view of another ``sf_dir`` left
    in the session is never read, because every table the text names is
    registered again here."""
    for t in STAR_TABLES:
        if re.search(rf"\b{t}\b", sql, re.IGNORECASE):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
