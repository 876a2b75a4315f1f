"""Python DataSource (Spark 4 pyspark.sql.datasource) sentence source.

Contracts: bit-identical content to the shared generator core at any
parallelism (the reference's parallel-source-instance semantics,
RateControlledSourceFunction.java:11-124 — partitions() = instances), and
full coverage of the requested id range with no duplicates.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_wordcount_spark.sources import register_sentence_source
from flink_wordcount_spark.streaming.sentences import with_sentences
from flink_wordcount_spark.streaming.wordcount import drain


def _read(spark, n, size, seed, parts):
    register_sentence_source(spark)
    return (
        spark.read.format("sentences")
        .option("n", n)
        .option("size", size)
        .option("seed", seed)
        .option("numPartitions", parts)
        .load()
    )


def test_datasource_matches_batch_generator(spark):
    df = _read(spark, 300, 7, 42, 5)
    ref = with_sentences(spark.range(300), row_id="id", sentence_size=7, seed=42)
    j = df.join(ref.select("seq", F.col("sentence").alias("ref")), "seq")
    assert j.count() == 300
    assert j.filter(F.col("sentence") != F.col("ref")).count() == 0


def test_datasource_parallelism_invariant(spark):
    a = {r.seq: r.sentence for r in _read(spark, 200, 5, 7, 3).collect()}
    b = {r.seq: r.sentence for r in _read(spark, 200, 5, 7, 11).collect()}
    assert a == b
    assert set(a) == set(range(200)), "id range must be covered exactly once"


def test_datasource_seed_and_partition_count(spark):
    df = _read(spark, 100, 5, 7, 4)
    assert df.rdd.getNumPartitions() == 4
    other = {r.seq: r.sentence for r in _read(spark, 100, 5, 8, 4).collect()}
    same = {r.seq: r.sentence for r in df.collect()}
    assert same != other, "different seeds must give different corpora"


def test_datasource_stream_recovers_from_checkpoint(spark, tmp_path):
    """Kill mid-stream, restart from the checkpoint: readBetweenOffsets must
    regenerate the replayed batch bit-identically (the reference's
    ListCheckpointed replay contract), so the final complete-mode counts
    equal the uninterrupted batch regeneration."""
    register_sentence_source(spark)
    ckpt = str(tmp_path / "ckpt")

    def start(one_batch: bool):
        stream = (
            spark.readStream.format("sentences")
            .option("n", 1000)
            .option("size", 5)
            .option("seed", 42)
            .option("rowsPerBatch", 100)
            .load()
        )
        counts = (
            stream.select(F.explode(F.split("sentence", r"\W+")).alias("word"))
            .filter(F.length("word") > 0)
            .groupBy("word")
            .count()
        )
        writer = (
            counts.writeStream.format("memory")
            .queryName("ds_recover")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )
        if one_batch:
            writer = writer.trigger(once=True)  # exactly ONE micro-batch
        return writer.start()

    q = start(one_batch=True)
    try:
        finished = q.awaitTermination(120)  # "kill" after a single 100-row batch
    finally:
        q.stop()
    assert finished is True, "the one-batch run did not finish"
    partial = spark.sql("SELECT CAST(sum(count) AS BIGINT) s FROM ds_recover").collect()
    assert partial[0].s and partial[0].s < 5000, "first run should be partial"

    q2 = start(one_batch=False)
    try:
        drain(q2)
    finally:
        q2.stop()

    got = {
        r.word: r["count"]
        for r in spark.sql("SELECT word, count FROM ds_recover").collect()
    }
    ref = (
        with_sentences(spark.range(1000), row_id="id", sentence_size=5, seed=42)
        .select(F.explode(F.split("sentence", r"\W+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .count()
        .collect()
    )
    want = {r.word: r["count"] for r in ref}
    assert got == want, "recovered stream diverged from the batch regeneration"
