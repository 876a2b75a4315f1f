"""Unit tests for io.normalize_event_ts across fixture vintages.

The driver has shipped ``events.ts`` as parquet TIMESTAMP(NANOS) (read as a
raw nanos bigint under ``nanosAsLong``), TIMESTAMP(MICROS) (read as
``timestamp_ntz``), and plain ``timestamp``.  Every query/watermark/oracle
comparison assumes the normalizer maps all three to the SAME session-UTC
micros timestamp; until now only the current fixture's branch was exercised.
The nanos branch must floor-truncate with integer ``div`` (DuckDB's ns->us
read) — float math would lose exactness past 2^53 epoch-nanos.  A stream
replay (``io.replay``) must normalize exactly as a batch read (``io.table``).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from flink_wordcount_spark.io import normalize_event_ts, replay, table
from flink_wordcount_spark.streaming.wordcount import run_to_completion

# 2023-11-14T22:13:20.123456789 UTC — epoch nanos past 2^53 (float math
# would corrupt the low digits), micros floor-truncates the trailing 789.
_NANOS = 1_700_000_000_123_456_789
_MICROS = 1_700_000_000_123_456
_EXPECT = datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)


def test_nanos_bigint_vintage_floors_to_micros(spark):
    df = spark.createDataFrame([(_NANOS,)], "ts bigint")
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect()[0]["ts"] == _EXPECT


def test_timestamp_vintage_passes_through(spark):
    df = spark.createDataFrame([(_EXPECT,)], "ts timestamp")
    out = normalize_event_ts(df)
    assert out is df  # no-op branch: the plan is untouched
    assert out.collect()[0]["ts"] == _EXPECT
    no_ts = spark.createDataFrame([(1,)], "doc_id long")
    assert normalize_event_ts(no_ts) is no_ts  # non-events fixtures


def test_ntz_vintage_casts_to_session_utc(spark):
    df = spark.range(1).select(
        F.timestamp_micros(F.lit(_MICROS)).cast("timestamp_ntz").alias("ts")
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # session tz is pinned UTC (io.tune), so the wall instant is unchanged
    assert out.collect()[0]["ts"] == _EXPECT


def test_all_vintages_agree(spark):
    """The contract the query surface relies on: equivalent inputs from any
    vintage normalize to byte-identical micros timestamps."""
    nanos = normalize_event_ts(spark.createDataFrame([(_NANOS,)], "ts bigint"))
    ts = normalize_event_ts(spark.createDataFrame([(_EXPECT,)], "ts timestamp"))
    ntz = normalize_event_ts(
        spark.range(1).select(
            F.timestamp_micros(F.lit(_MICROS)).cast("timestamp_ntz").alias("ts")
        )
    )
    vals = {frame.collect()[0]["ts"] for frame in (nanos, ts, ntz)}
    assert vals == {_EXPECT}


def test_nanos_vintage_replays_like_a_batch_read(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file read as a stream gives the same ``ts``
    values as the batch read of that file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [_NANOS + i * 60_000_000_000 for i in range(3)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "user_id": pa.array([7, 7, 8], pa.int64()),
                "event_type": ["view", "click", "purchase"],
                "value": [1.0, 2.0, 3.0],
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    streamed = run_to_completion(
        replay(spark, str(tmp_path)).select("event_id", "ts"), output_mode="append"
    )
    batch = table(spark, str(tmp_path), "events").select("event_id", "ts")
    got = sorted(tuple(r) for r in streamed.collect())
    assert got == sorted(tuple(r) for r in batch.collect())
    assert got[0] == (1, _EXPECT)
