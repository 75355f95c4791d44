"""Schema-drift resilience of the events loader: `ts` has shipped as
int64 epoch-nanos and as parquet timestamp[us] across testdata
generations, and int64 epoch-micros is the third plausible encoding. The
loader must normalize all of them to the same timezone-free `ts_us`
column without a scan-time type error (the round-4 failure mode)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from vector_db_service_spark.sources import tables

TS_US = [1_700_000_000_000_000, 1_700_000_123_456_789]


def _write(tmp_path, arr: pa.Array) -> str:
    sf_dir = str(tmp_path)
    t = pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": arr})
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


@pytest.mark.parametrize(
    "arr",
    [
        pa.array([v * 1000 for v in TS_US], pa.int64()),  # epoch-nanos
        pa.array(TS_US, pa.timestamp("us")),  # timestamp[us] (NTZ)
        pa.array(TS_US, pa.int64()),  # epoch-micros
        pa.array([v * 1000 for v in TS_US], pa.timestamp("ns")),  # timestamp[ns]
    ],
    ids=["int64-nanos", "timestamp-us", "int64-micros", "timestamp-ns"],
)
def test_loader_normalizes_every_encoding(spark, tmp_path, arr):
    sf_dir = _write(tmp_path, arr)
    out = tables.load(spark, sf_dir, "events").orderBy("event_id").collect()
    assert [r.ts_us for r in out] == TS_US
    assert "ts" not in {f.name for f in tables.load(spark, sf_dir, "events").schema.fields}


def test_ts_stat_max_reads_footer(tmp_path):
    sf_dir = _write(tmp_path, pa.array(TS_US, pa.int64()))
    mx = tables._ts_stat_max(sf_dir)
    assert mx == max(TS_US)


@pytest.mark.smoke
def test_truncated_footer_reads_as_unknown(tmp_path):
    """A footer that cannot be read (a truncated file) gives no unit and
    a 0 max, and timestamp statistics give a 0 max; no error escapes."""
    sf_dir = _write(tmp_path, pa.array([v * 1000 for v in TS_US], pa.timestamp("ns")))
    path = os.path.join(sf_dir, "events.parquet")
    assert tables._ts_int64_unit(sf_dir) == "ns"
    assert tables._ts_stat_max(sf_dir) == 0
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[:-10])
    assert tables._ts_int64_unit(sf_dir) is None
    assert tables._ts_stat_max(sf_dir) == 0


def test_real_testdata_loads(spark):
    from conftest import SF_SMALL

    # a caller session with nanosAsLong unset: loading the committed
    # timestamp[us] events must leave its conf as it was
    caller = spark.newSession()
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = caller.conf.getAll
    df = tables.load(caller, SF_SMALL, "events")
    row = df.select("ts_us").head()
    # sanity: epoch micros for a modern date, not nanos or seconds
    assert 1e14 < row.ts_us < 1e17
    assert caller.conf.getAll == before
