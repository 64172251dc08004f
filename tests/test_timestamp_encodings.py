"""Type-drift regression guard for the driver's parquet time encodings.

The testdata generator has shipped ``events.ts`` three different ways
across rounds: parquet TIMESTAMP(NANOS) (r1-r2), naive ``timestamp[us]``
→ Spark TIMESTAMP_NTZ (r3, which broke every ``unix_micros``/watermark
downstream), and tz-aware micros. ``load_table`` owns normalization:
whatever the file says, ``ts`` must land as session-UTC TIMESTAMP with
microsecond-identical values. This test writes all three encodings and
would have caught the r3 break at commit time (VERDICT r3 item 5).
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from soccer_data_pipeline_spark.sources import load_table

UTC = datetime.timezone.utc
# exact values, expressed as epoch-micros so comparison is integral
EPOCH_US = [1_450_000_000_000_000, 1_450_000_123_456_789 // 1000 * 1000]


def _write_events(path: str, ts_type: pa.DataType) -> None:
    unit = ts_type.unit  # "ns" or "us"
    scale = 1000 if unit == "ns" else 1
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([us * scale for us in EPOCH_US], ts_type),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["view", "click"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(['{"a":1}', '{"b":2}'], pa.string()),
        }
    )
    # version 2.6 preserves nanos as TIMESTAMP(NANOS) instead of
    # coercing to micros — the encoding the r1/r2 driver actually used
    pq.write_table(table, path, version="2.6")


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("ns"),  # legacy TIMESTAMP(NANOS) → bigint under conf
        pa.timestamp("us"),  # naive micros → TIMESTAMP_NTZ (the r3 break)
        pa.timestamp("us", tz="UTC"),  # tz-aware micros → TIMESTAMP
    ],
    ids=["nanos-legacy", "ntz-micros", "tz-micros"],
)
def test_events_ts_always_lands_as_session_utc_timestamp(spark, tmp_path, ts_type):
    sf_dir = tmp_path / ts_type.unit / (ts_type.tz or "ntz")
    sf_dir.mkdir(parents=True)
    _write_events(str(sf_dir / "events.parquet"), ts_type)

    df = load_table(spark, str(sf_dir), "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"ts must normalize to TIMESTAMP, got {dict(df.dtypes)['ts']}"
    )
    # value-identical across encodings: exact epoch-micros round trip
    import pyspark.sql.functions as F

    got = {
        r.event_id: r.us
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    assert got == {1: EPOCH_US[0], 2: EPOCH_US[1]}


def test_star_tables_have_no_ntz_columns(spark):
    """No table the loader hands out may leak a TIMESTAMP_NTZ column —
    orders.o_orderdate and lineitem.l_shipdate shipped as NTZ too
    (ADVICE r3), so the guard covers the whole star schema."""
    from soccer_data_pipeline_spark.schemas import STAR_TABLES

    for name in STAR_TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", name)
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not ntz, f"{name} leaked NTZ columns: {ntz}"


def test_star_table_reads_do_not_depend_on_an_earlier_events_read(spark):
    """``load_table`` pins the nanos conf for every table, so what it
    returns for ``orders`` and ``lineitem`` is the same whether or not
    the session has read ``events`` yet (the conf used to be set by the
    first ``events`` read and never reset)."""
    from .conftest import SF_DIR_001 as sf

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")

    def snapshot():
        out = {}
        for name in ("orders", "lineitem"):
            df = load_table(spark, sf, name)
            out[name] = (df.dtypes, sorted(map(tuple, df.collect()), key=repr))
        return out

    before = snapshot()
    load_table(spark, sf, "events").limit(1).collect()
    assert snapshot() == before
