"""Watermark + late-data semantics (SURVEY §2.2 'Streaming' row):
late rows beyond the watermark are dropped from windowed aggregation, and
dropDuplicates honors the watermark horizon. Batches are forced one file at
a time so the watermark advances deterministically between them."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from flink_wordcount_spark.streaming.wordcount import drain

SCHEMA = StructType(
    [StructField("ts", TimestampType()), StructField("k", StringType())]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _ts(s):
    from datetime import datetime

    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def test_late_rows_dropped_from_windowed_agg(spark, tmp_path):
    """Empirically-pinned Spark contract (verified on 4.1): a window is
    evicted+emitted once the watermark passes its end; rows arriving AFTER
    that eviction are dropped (numRowsDroppedByWatermark), and the window is
    never emitted twice. Rows racing into the eviction batch still merge —
    more complete, not less."""
    import time

    src = str(tmp_path / "src")
    batches = [
        [(_ts("2024-01-01 10:00:30"), "a"), (_ts("2024-01-01 10:05:00"), "a")],
        [(_ts("2024-01-01 13:00:00"), "a")],  # wm -> 12:50 for the NEXT batch
        [(_ts("2024-01-01 13:05:00"), "a")],  # wm=12:50 evicts+emits 10:00 here
        [(_ts("2024-01-01 10:07:00"), "a")],  # late after eviction -> dropped
        [(_ts("2024-01-01 15:00:00"), "a")],  # flush the rest
    ]
    for b in batches:
        _write_batch(spark, src, b)
        time.sleep(1.1)  # distinct mod-times keep file (=batch) order stable

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        drain(q)
        rows = [(r.w, r.n) for r in spark.table(name).collect()]
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    # exactly one emission of the 10:00 window, on-time rows only
    assert rows.count(("10:00", 2)) == 1
    assert ("10:00", 3) not in rows and ("10:00", 1) not in rows
    # the post-eviction late row was dropped by the watermark
    assert dropped == 1


def test_dropduplicates_with_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark, src, [(_ts("2024-01-01 10:00:00"), "x"), (_ts("2024-01-01 10:00:00"), "x")]
    )
    _write_batch(
        spark, src, [(_ts("2024-01-01 10:00:00"), "x"), (_ts("2024-01-01 10:01:00"), "y")]
    )
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicates(["k"])
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = dedup.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        drain(q)
        ks = [r.k for r in spark.table(name).collect()]
    finally:
        q.stop()
    # duplicate "x" rows (same batch AND cross-batch within horizon) collapse
    assert sorted(ks) == ["x", "y"]
