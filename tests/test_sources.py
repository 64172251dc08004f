"""The source layer's schema catalog and SQL view registration.

``load_table`` serves each file's schema from a catalog keyed on the
file's identity, so a repeat read of an unchanged file submits no Spark
job; a rewritten file must be inferred again, and a cached-schema read
must return exactly what an inferred read returns. ``register_views``
registers only the tables a query's SQL names, so every SQL-surface
query must still analyze with no other temp view in the session.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from soccer_data_pipeline_spark.plans import QUERIES
from soccer_data_pipeline_spark.schemas import STAR_TABLES
from soccer_data_pipeline_spark.sources import load_table, parquet_source

from .conftest import SF_DIR_001, SF_DIR_01
from .oracle_harness import compare

SF_DIR_1 = os.path.join(os.path.dirname(SF_DIR_001), "sf0.1")

# every registry query that reads through register_views
SQL_VIEW_QUERIES = sorted(
    n for n, q in QUERIES.items()
    if q.fn.__module__.endswith(".sql_surface") or n == "subquery_shapes"
)


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


def test_reading_an_unchanged_file_submits_no_job(spark):
    for name in STAR_TABLES:
        load_table(spark, SF_DIR_001, name)
        df, jobs = _jobs_submitted(
            spark, f"schema-cache-hit-{name}", lambda: load_table(spark, SF_DIR_001, name)
        )
        assert jobs == 0, f"{name}: a repeat read submitted {jobs} jobs"
        assert df.columns


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"], "r_comment": ["a", "b"]}),
        path,
    )
    df, jobs = _jobs_submitted(
        spark, "schema-cache-rewrite", lambda: load_table(spark, str(tmp_path), "region")
    )
    assert jobs >= 1, "a rewritten file was served a stale schema"
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["a", "b"]


@pytest.mark.parametrize("sf_dir", [SF_DIR_001, SF_DIR_01, SF_DIR_1], ids=os.path.basename)
def test_cached_schema_read_equals_inferred_read(spark, sf_dir):
    """Multiset equality of the rows (both ``exceptAll`` directions
    empty at equal counts) is sorted-row equality, computed in Spark."""
    for name in STAR_TABLES:
        parquet_source._SCHEMAS.clear()
        inferred, jobs = _jobs_submitted(
            spark, f"schema-cache-miss-{name}", lambda: load_table(spark, sf_dir, name)
        )
        assert jobs >= 1, f"{name}: the first read did not infer its schema"
        cached = load_table(spark, sf_dir, name)
        assert cached.dtypes == inferred.dtypes, name
        assert cached.count() == inferred.count(), name
        assert cached.exceptAll(inferred).isEmpty(), name
        assert inferred.exceptAll(cached).isEmpty(), name


@pytest.mark.parametrize("name", SQL_VIEW_QUERIES)
def test_sql_query_registers_every_table_it_names(spark, name):
    """With no temp view left in the session, a table the SQL names but
    ``register_views`` missed fails analysis (TABLE_OR_VIEW_NOT_FOUND)
    instead of silently reading a view another sf_dir left behind."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spec = QUERIES[name]
    ok, msg = compare(spec.fn(spark, SF_DIR_001), spec.oracle, SF_DIR_001)
    assert ok, f"{name}: {msg}"
