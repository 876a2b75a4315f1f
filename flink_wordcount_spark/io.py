"""Table IO over the driver fixtures.

All batch reads go through ``table()`` and all file-replay streams through
its stream twin ``replay()``, so every query gets: UTC session timezone
(oracle parity), parquet scans with Catalyst pushdown/pruning, one
``events.ts`` type across fixture vintages, and a single place to swap in
bucketed/partitioned layouts at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Keyed on applicationId (not id(): a stopped session's id can be reused by a
# new object, which would then serve stale plans — and a weak-keyed dict won't
# work either, because cached DataFrames strongly reference their session).
# Bounded: only the most recent few applications' caches are retained.
_CACHE: dict[str, dict[tuple[str, str], DataFrame | StructType]] = {}
_CACHE_MAX_APPS = 4


def _app_cache(spark: SparkSession) -> dict[tuple[str, str], DataFrame | StructType]:
    """This application's memo, evicting the oldest other applications'."""
    app_id = spark.sparkContext.applicationId
    per_session = _CACHE.setdefault(app_id, {})
    while len(_CACHE) > _CACHE_MAX_APPS:
        _CACHE.pop(next(iter(k for k in _CACHE if k != app_id)))
    return per_session


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType across fixture vintages.

    The driver has shipped ``ts`` both as parquet TIMESTAMP(NANOS) — which
    Spark reads as a raw nanos ``bigint`` under ``nanosAsLong`` (see
    session.RUNTIME_CONFS) — and as TIMESTAMP(MICROS), which Spark reads as
    ``timestamp_ntz``. Both become session-tz (UTC) micros timestamps, so
    every downstream window/watermark/oracle comparison is vintage-agnostic.
    Nanos use integer ``div``, not float math: 2024 epoch-nanos (~1.7e18)
    exceed double's 2^53 exact-integer range. A frame without a ``ts``
    column is returned unchanged, so every fixture read can apply this.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt in (None, "timestamp"):
        return df
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one fixture table.

    Column pruning and predicate pushdown are Catalyst's job — callers
    ``select``/``filter`` declaratively and the scan narrows (verify with
    ``.explain``: ``ReadSchema``/``PushedFilters``).

    The returned DataFrame (an immutable logical plan) is memoized per
    (session, dir, table): re-reading skips the file listing + footer schema
    read (~0.5-1 s of driver time per call, paid 100+ times in a verify run).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _app_cache(spark)
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    tune(spark)
    df = normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    per_session[key] = df
    return df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [table(spark, sf_dir, n) for n in names]


def raw_schema(spark: SparkSession, path: str) -> StructType:
    """On-disk schema of a parquet file or directory, read on a tuned session.

    The session is tuned first: on an untuned one a nanos-vintage fixture
    throws at the footer read (no ``nanosAsLong``), and a non-UTC session
    timezone shifts every window boundary against the oracle. The schema is
    memoized per (application, path) for the reason ``table`` memoizes its
    plans: the read costs a file listing plus a footer read.
    """
    tune(spark)
    per_session = _app_cache(spark)
    key = ("schema", path)
    schema = per_session.get(key)
    if schema is None:
        schema = per_session[key] = spark.read.parquet(path).schema
    return schema


def _stream_dir(parquet_file: str) -> str:
    """Stage a single parquet file as a streamable directory (the file
    source requires a directory); symlinks keep this zero-copy."""
    import hashlib
    import os
    import tempfile

    key = hashlib.sha1(parquet_file.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"fws_streamdir_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-00000.parquet")
    if not os.path.exists(link):
        os.symlink(parquet_file, link)
    return d


def replay(
    spark: SparkSession, path: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-replay stream of a parquet file or directory: the stream twin of
    ``table()``, replaying the rows as if they arrived from a live source.

    A single ``.parquet`` file is staged as a one-file directory. The reader
    takes the memoized on-disk schema (a file source cannot infer one), and
    ``files_per_trigger`` caps the files per micro-batch when given. ``ts``
    is normalized exactly as a batch read normalizes it.
    """
    reader = spark.readStream.schema(raw_schema(spark, path))
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    src = _stream_dir(path) if path.endswith(".parquet") else path
    return normalize_event_ts(reader.parquet(src))


def write_compacted(
    df: DataFrame, path: str, by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Write parquet with AQE-governed output compaction (the small-files fix).

    ``hint("rebalance")`` lets AQE split oversized and coalesce undersized
    shuffle partitions to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    before the write — at 100 TB this is what keeps a 10k-task job from
    emitting 10k tiny files per partition directory, without a driver-side
    count() to pick a repartition factor.  Pass ``by`` to additionally
    cluster rows by key (range-style locality for downstream scan pruning);
    skewed keys are safe — REBALANCE splits hot partitions, unlike
    repartition(cols) which would hotspot them.
    """
    from pyspark.sql import functions as F

    hinted = df.hint("rebalance", *[F.col(c) for c in by]) if by else df.hint("rebalance")
    hinted.write.mode(mode).parquet(path)
