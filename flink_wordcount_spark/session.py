"""SparkSession construction and tuning for the engine.

The driver may hand us an existing session; ``tune()`` applies the runtime
confs that are safe to set post-creation (timezone, AQE, shuffle sizing).
``get_spark()`` builds a local session with the full config for tests/bench.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; at cluster
  scale set it ~2-3x total cores and let AQE coalesce.
- Session timezone is pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive UTC) and are cluster-independent.
- Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``) is
  sized in ``get_spark()``.  It is a static conf, read once per JVM, so a
  session the driver hands in keeps Spark's default of 100 entries.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs (safe on a live session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r15 (guide §3.1/§9): let the planner pick shuffled-hash join when its
    # size conditions hold (build side fits a per-partition hash map), and
    # let AQE rewrite sort-merge -> shuffled-hash at runtime when every
    # post-shuffle partition is under 64 MB.  Both paths are size-gated, so
    # a corpus-scaling build side still gets sort-merge's graceful spill;
    # the win is skipping the sort on bounded id-list/dimension joins
    # (measured at sf0.1: curation_end_to_end -0.9 s, suite total ~-1 s;
    # plan diff: the funnel's SortMergeJoins become ShuffledHashJoins).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r15 (guide §6 §1.2): file-split sizing is maxSplitBytes =
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)).
    # With the 4 MB default openCost, any table under 4 MB is ONE scan task —
    # and this engine runs heavy per-row JVM compute (trigrams, simhash bit
    # sums, char-gram explodes) directly over map-side/broadcast-joined scan
    # stages, so a sub-4 MB parquet serialized whole queries onto one core of
    # 32 (measured: the md5-simhash fingerprint stage 3.2 s -> 0.4 s at
    # sf0.1).  64 KB keeps small inputs split near totalBytes/parallelism
    # while leaving large-file behavior untouched (at 100 TB,
    # totalBytes/minPartitionNum >> maxPartitionBytes, so splits stay
    # maxPartitionBytes-sized; openCost only stops tiny-file packing from
    # under-splitting).
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    # r15 (guide §2.2): AQE coalesces post-shuffle partitions by BYTES
    # (advisory 64 MB, floor = this conf), but bytes are a poor proxy for
    # work in an engine whose post-shuffle stages run heavy per-row CPU:
    # a few hundred KB of candidate pairs coalesce to ONE partition and the
    # verify stage serializes onto one core.  A global 16k floor was A/B'd
    # as the fix and REJECTED: interleaved fresh-process sweeps (2x each
    # config, min-of-4) showed it wins only on the two RHP cosine-verify
    # queries (-36/-51%) while costing +17-35% across the minhash/simhash
    # family (many small exchanges -> hundreds of tiny tasks x many stages
    # of scheduler overhead).  The verify stages that need spreading get an
    # explicit pair-key REPARTITION_BY_NUM instead (dedup_edit_distance,
    # dedup_embed_cosine, embed_hard_negatives), which AQE never coalesces.
    # The floor stays at Spark's default.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    # Some fixture vintages store events.ts as TIMESTAMP(NANOS); Spark lacks
    # a nanos timestamp type, so read those as long — io.normalize_event_ts
    # converts to micros timestamps for every vintage (floor-truncated exactly
    # like DuckDB's ns->us read). Harmless when the fixture is already micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: The RocksDB state-store provider: transformWithState requires it, and it
#: is the representative provider at the real vocabulary's state cardinality
#: (~355k keys); the HDFS-backed in-memory default stops being honest once
#: state no longer trivially fits the executor heap.  A query reads it when
#: it starts, so callers scope it over the ``.start()`` with ``scoped_confs``.
ROCKSDB_STATE: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}

#: Row-count tracking does a GET for every PUT to maintain the
#: numTotalStateRows metric; the word count updates ~355k keys per batch, so
#: the tracking read IS the dominant RocksDB cost.  Measured (r07,
#: chronological 4-attempt throughput runs, same quiet machine): default
#: [4.0, 2.7, 2.3, 2.8] M words/s vs tracking-off [3.4, 9.0, 9.9, 9.3] — the
#: sustained rate matches the no-RocksDB default store (~9 M), i.e. the put
#: path itself was never the bottleneck; on the live path it is ~10% of
#: batch execution, where the tokenize+shuffle share is larger.  The metric
#: is observability-only (Flink's wordcount tracks no such count either).
TRACK_ROWS = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"

#: RocksDB tuning for the live (rate-source) word count, on top of
#: ROCKSDB_STATE.
LIVE_STATE: dict[str, str] = {
    # Changelog checkpointing: per-batch durability becomes an append of the
    # batch's delta instead of a full RocksDB snapshot upload, which is what
    # keeps the commit path off the latency floor (measured in the latency
    # sweep; also the 100 TB-state design: snapshot cost is amortized into
    # background maintenance).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # Root cause of the r05 commit spikes (VERDICT r05 #3, confirmed by the
    # bench's per-batch breakdown): even with changelog checkpointing, Spark
    # creates a full RocksDB snapshot every minDeltasForSnapshot versions
    # (default 10), and the memtable flush + local checkpoint for it runs
    # INSIDE commit — measured as flush-dominated commit spikes on exactly
    # every 10th batch (7.5-28 s flush, compaction/sync ~0). At 150 the
    # cadence sits outside the measurement window: flush_ms drops to 0 in
    # every observed commit and commit p99 lands within ~2x of p50. The
    # trade is bounded recovery replay (<=150 per-batch changelogs, each a
    # small delta); the bench's recovery phase measures restart time.
    "spark.sql.streaming.stateStore.minDeltasForSnapshot": "150",
    TRACK_ROWS: "false",
}


def _put(spark: SparkSession, key: str, value: str | None) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str | None]) -> Iterator[None]:
    """Set ``confs`` for the ``with`` block (a ``None`` value unsets its
    key); on exit, also after an exception, give every key back its previous
    value, or unset it if it had none.  An empty ``confs`` touches nothing.

    A streaming query reads its state-store and shuffle-partition confs when
    it starts, so an override has to span the ``.start()`` and then be
    undone: a bare ``conf.set`` leaks into every later query on the session
    (ADVICE r09)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            _put(spark, k, v)
        yield
    finally:
        for k, v in prev.items():
            _put(spark, k, v)


# Weak so a dead session can't alias a new one that reuses its id() (the
# round-3 id()-keyed set could mark a brand-new session as already tuned).
_TUNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Applied once per session object: each conf.set is a py4j round-trip and
    ``tune`` sits on the per-table read path, so re-applying per query adds
    measurable driver time across a 100+-query verify run.
    """
    if spark in _TUNED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host session; proceed with its value
    _TUNED.add(spark)
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compilations in this JVM so far; with a cache that holds the
    working set, one per distinct generated class."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(app_name: str = "flink_wordcount_spark", cpus: int | None = None) -> SparkSession:
    """Local session used by tests and bench.py.

    ``SPARK_GRAFT_CPUS`` (default 32) controls local parallelism; shuffle
    partitions are sized to the core count — at tiny scale factors AQE
    coalesces further, at large SFs raise it via conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static conf (a live session refuses it, so it cannot sit in
        # RUNTIME_CONFS): the JVM-wide cache of Janino-compiled classes.
        # Spark's default of 100 is below one pass of perfbench's tpch mix
        # (114-115 classes), so every warm pass recompiled 65 of them at
        # sf0.1 and the JIT re-optimized their hot loops.  One fresh sweep
        # of the whole catalog compiles 2,552 distinct classes
        # (`python scripts/driver_sim.py` at sf0.01 prints the count); 4096
        # is the next power of two.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune(builder.getOrCreate())
    # Non-local master: ship the package zip to executors (the Python
    # DataSource / stateful processors unpickle by reference and must
    # import flink_wordcount_spark worker-side). No-op on local[*].
    from .packaging import ship_package

    ship_package(spark)
    return spark
