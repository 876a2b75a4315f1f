"""Streaming word-count pipelines (reference dataflow, Spark-planned).

Reference chain (StatefulWordCount.java:69-94):
source -> rebalance -> Tokenizer(flatMap \\W+ split, drop empties) ->
keyBy(word) -> CountWords(per-key running sum via ReducingState) -> sink.

Spark mappings (SURVEY §2.1 rows 3-8):
- rebalance           -> repartition(n) (optional; the parallel source already
                         distributes, so this is a knob, not a default)
- Tokenizer           -> explode(split(...)) + filter  (operators.text)
- keyBy + CountWords  -> groupBy("word").count() in update/complete mode
                         (state store keeps the running totals), or the
                         bit-exact emit-on-sample variant in stateful.py
- DummyLatencySink    -> noop/memory sink + metrics listener (metrics.py)
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import replay
from ..operators.text import tokenize
from ..session import scoped_confs

#: Seconds ``drain`` waits for a query to process its available input before
#: it stops the query: a Python worker that never connects back must fail
#: one caller, not hang it until an outer kill.
DRAIN_DEADLINE_S = 600


def tokens_stream(sentences: DataFrame, rebalance: int | None = None) -> DataFrame:
    """Tokenizer stage over a (sentence, ...) stream; optional rebalance."""
    if rebalance:
        sentences = sentences.repartition(rebalance)
    return tokenize(sentences, text_col="sentence", out_col="word")


def sampled_counts(sentences: DataFrame) -> DataFrame:
    """Per-word running count plus the newest ``sample_ts`` seen for the word
    — the shape the latency sink reads (DummyLatencyCountingSink parity)."""
    return tokens_stream(sentences).groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("sample_ts").alias("sample_ts")
    )


def start_to_memory(
    counts: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Start the aggregated stream into an in-memory sink (tests/queries)."""
    name = name or f"wc_{uuid.uuid4().hex[:8]}"
    writer = counts.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def file_replay_wordcount(
    spark: SparkSession,
    parquet_path: str,
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The reference pipeline driven by deterministic file replay: stream the
    parquet rows as if they were the live source, count words cumulatively.

    In complete output mode the final memory-sink table equals the batch
    word count over the same files — the golden equivalence SURVEY §5.2.3
    uses to make streaming oracle-checkable.
    """
    stream = replay(spark, parquet_path, files_per_trigger=max_files_per_trigger)
    toks = tokenize(stream.select(F.col(text_col).alias("sentence")), "sentence")
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def run_to_completion(
    counts: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    shuffle_partitions: int = 8,
    checkpoint_dir: str | None = None,
):
    """Start, drain all available input, stop; return the result DataFrame.

    Used by the driver-facing queries: the streaming query runs for real
    (micro-batch engine, state store), but the call is synchronous.

    Stateful streaming partitioning is fixed at query start from
    ``spark.sql.shuffle.partitions``; every micro-batch then instantiates one
    state store per partition, so a fixture-scale replay at 32 partitions
    pays ~6x in per-batch overhead (13 s -> 2 s for the stream-stream join at
    sf0.01). These synchronous replays cap the conf for the query's lifetime
    and restore it after; the throughput bench path (start_to_memory direct)
    keeps the session setting. At cluster scale the equivalent knob is sizing
    shuffle partitions to the stateful operator's real key cardinality.
    """
    spark = counts.sparkSession
    confs = {}
    if shuffle_partitions and (
        int(spark.conf.get("spark.sql.shuffle.partitions")) > shuffle_partitions
    ):
        confs = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    with scoped_confs(spark, confs):
        q = start_to_memory(
            counts, name=name, output_mode=output_mode, checkpoint_dir=checkpoint_dir
        )
        try:
            drain(q)
            return spark.table(q.name)
        finally:
            q.stop()


def drain(q: StreamingQuery) -> None:
    """``q.processAllAvailable()`` with a deadline: a timer stops the query
    after ``DRAIN_DEADLINE_S`` seconds, and then this raises TimeoutError
    carrying the query's exception and last progress."""
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        q.stop()

    timer = threading.Timer(DRAIN_DEADLINE_S, expire)
    timer.daemon = True
    timer.start()
    try:
        q.processAllAvailable()
    except Exception:
        if not expired.is_set():
            raise
    finally:
        timer.cancel()
    if expired.is_set():
        raise TimeoutError(
            f"streaming query {q.name!r} still had input after "
            f"{DRAIN_DEADLINE_S} s; stopped it. exception: {q.exception()}; "
            f"last progress: {q.lastProgress}"
        )
