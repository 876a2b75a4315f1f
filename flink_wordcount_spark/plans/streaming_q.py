"""Driver-facing streaming queries — each runs a REAL Structured Streaming
query (micro-batch engine + state store) synchronously and returns the final
result table, which makes the streaming surface oracle-checkable via batch
equivalence (SURVEY §5.2.3).

Every file-replayed stream comes from ``io.replay``, the stream twin of
``io.table``: the same tuned session, memoized footer schema and
``events.ts`` normalization as a batch read. Queries whose emission waits on
the watermark replay ``_left_join_stream_dir`` (events plus two far-future
sentinel files) one file per trigger, so the watermark passes the data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import maybe_broadcast
from ..io import raw_schema, replay, table
from ..operators.text import tokenize
from ..streaming.sentences import batch_golden
from ..streaming.stateful import final_state_counts
from ..streaming.wordcount import file_replay_wordcount, run_to_completion
from .catalog import query
from .events_q import _DRIFT_BINS, _DRIFT_W  # shared drift binning contract
from .wordcount_q import WC_ORACLE as _WC_ORACLE  # single source of truth


@query("stream_wordcount_file", oracle=_WC_ORACLE)
def stream_wordcount_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pipeline, streamed: parquet replay -> tokenize -> stateful
    count -> complete-mode sink; final state == batch word count."""
    counts = file_replay_wordcount(spark, f"{sf_dir}/documents.parquet")
    return run_to_completion(counts, output_mode="complete")


@query("stream_wordcount_stateful", oracle=_WC_ORACLE)
def stream_wordcount_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountWords via the stateful API: per-key state in the state store,
    emission logic in an Arrow-batched pandas fn (update mode, single-batch
    replay -> one emitted row per word carrying the final running total)."""
    stream = replay(spark, f"{sf_dir}/documents.parquet")
    tokens = tokenize(stream.select(F.col("text").alias("sentence")), "sentence").select("word")
    return run_to_completion(final_state_counts(tokens), output_mode="update")


@query(
    "stream_events_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows over the events stream (file replay);
    complete mode -> final windows equal the batch twin ev_tumbling_hour."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_static_join",
    oracle="""
    WITH profiles AS (
        SELECT user_id, count(*) AS lifetime_events
        FROM events GROUP BY user_id
    )
    SELECT e.event_type, p.lifetime_events >= 20 AS heavy_user,
           count(*) AS n, round(sum(e.value), 2) AS total_value
    FROM events e JOIN profiles p ON p.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched against a static
    dimension (per-user profile), then aggregated — the standard streaming
    enrichment topology (dim broadcast per micro-batch, no stream state)."""
    static_profiles = (
        table(spark, sf_dir, "events")  # tuned + memoized io path
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    stream = replay(spark, f"{sf_dir}/events.parquet")
    enriched = stream.join(maybe_broadcast(static_profiles), "user_id")
    agg = enriched.groupBy(
        "event_type", (F.col("lifetime_events") >= 20).alias("heavy_user")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    return run_to_completion(agg, output_mode="complete")




def _view_purchase_stream_join(
    spark, src: str, how: str, files_per_trigger: int | None = None
):
    """Shared topology of the two stream-stream conversion joins (r08
    review: the side builder and join/select block were copy-pasted between
    the inner and left-outer queries and had already drifted in reader
    options).  Both sides are watermarked 2h; the time-range condition
    bounds the join state; the caller picks the join type and whether each
    staged file gets its own micro-batch (the left join's flush-sentinel
    replay needs that)."""

    def side(event_type: str, alias: str):
        return (
            replay(spark, src, files_per_trigger=files_per_trigger)
            .filter(F.col("event_type") == event_type)
            .selectExpr(f"event_id AS {alias}_id", "user_id", f"ts AS {alias}_ts")
            .withWatermark(f"{alias}_ts", "2 hours")
        )

    views, purchases = side("view", "view"), side("purchase", "purchase")
    return views.join(
        purchases,
        (views.user_id == purchases.user_id)
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "view_id",
        "purchase_id",
        views.user_id.alias("user_id"),
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).cast("bigint").alias("secs_to_purchase"),
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: view->purchase conversions within 1 hour,
    per user. Both sides carry watermarks + the time-range join condition so
    the join state is bounded (Spark purges buffered rows once the watermark
    passes the range); inner-join matches emit as they arrive, so the
    complete replayed result equals the batch join."""
    joined = _view_purchase_stream_join(spark, f"{sf_dir}/events.parquet", "inner")
    return run_to_completion(joined, output_mode="append")


@query(
    "stream_sentences_golden",
    oracle="""
    SELECT CAST(40406 AS BIGINT) AS total_words,
           CAST(37789 AS BIGINT) AS distinct_words,
           CAST(389 AS BIGINT) AS max_count,
           CAST(0 AS BIGINT) AS n_mismatch_vs_batch
    """,
)
def stream_sentences_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-source parity, VALUE-CHECKED via a golden contract (VERDICT r05
    #4): the seeded sentence generator (reference source semantics — sample
    timestamps, skew knob off) replayed through a real streaming query.

    The generator is a pure function of (seed, row_id), so the replayed
    stream's word-count table is a deterministic constant: the contract row
    pins the total token count (40,406 — the 2,000 x 20 word draws plus the
    extra tokens the \\W+ tokenizer splits off apostrophe vocabulary words),
    the distinct-token count (37,789) and the max per-token count (389,
    possessive 's), all golden values recomputed from the generator
    parameters; plus n_mismatch_vs_batch = 0, which asserts the STREAMING
    result is row-identical to a batch regeneration of the same prefix —
    the exactly-once replay property the reference's checkpointing
    experiment is about."""
    n_rows, size, seed, period = 2000, 20, 42, 100
    # cache key carries every generator parameter plus the vocabulary size,
    # so changing any of them regenerates instead of replaying a stale copy
    from ..streaming.sentences import wordlist

    key = f"{n_rows}x{size}_s{seed}_p{period}_v{len(wordlist())}_g2"
    path = os.path.join(tempfile.gettempdir(), f"fws_golden_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        batch_golden(
            spark, n_rows, sentence_size=size, sample_period=period, seed=seed
        ).write.mode("overwrite").parquet(path)
    stream = replay(spark, path)
    counts = tokenize(stream, text_col="sentence", out_col="word").groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    streamed = run_to_completion(counts, output_mode="complete")
    # batch twin: regenerate the identical prefix and count it in one batch
    # plan — any divergence (missed/duplicated micro-batch rows) lands in
    # n_mismatch_vs_batch
    batch_counts = (
        tokenize(
            batch_golden(spark, n_rows, sentence_size=size, sample_period=period, seed=seed),
            text_col="sentence",
            out_col="word",
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("bcnt"))
    )
    mismatch = (
        streamed.join(batch_counts, "word", "full_outer")
        .filter(
            F.col("cnt").isNull()
            | F.col("bcnt").isNull()
            | (F.col("cnt") != F.col("bcnt"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_vs_batch"))
    )
    stats = streamed.agg(
        F.sum("cnt").cast("bigint").alias("total_words"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.max("cnt").alias("max_count"),
    )
    return stats.crossJoin(mismatch)


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` over the replayed event
    stream keeps the first occurrence of each (user_id, event_type) in the
    state store and emits it once (append mode). Only the key columns are
    emitted, so the result is the deterministic distinct key set regardless
    of arrival order. At scale the state is bounded by key cardinality;
    for time-bounded streams ``dropDuplicatesWithinWatermark`` caps it by
    eviction instead — exercised in tests/test_watermark.py semantics.
    """
    stream = replay(spark, f"{sf_dir}/events.parquet")
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_completion(deduped, output_mode="append")


@query(
    "stream_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on the LIVE stream: ``session_window`` merges and
    extends per-user sessions in the state store as micro-batches arrive
    (complete mode; same oracle as the batch twin ev_session_window).
    At scale this is the one window type whose state merges ranges —
    watermark + append mode bound retention for unbounded streams.
    """
    stream = replay(spark, f"{sf_dir}/events.parquet")
    sw = F.session_window("ts", "30 minutes")
    agg = (
        stream.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_sliding_window",
    oracle="""
    WITH hops AS (
        SELECT e.ts, e.value,
               time_bucket(INTERVAL '30 minutes', e.ts) - o.o * INTERVAL '30 minutes' AS win_start
        FROM events e CROSS JOIN (VALUES (0), (1)) o(o)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM hops
    WHERE ts >= win_start AND ts < win_start + INTERVAL '1 hour'
    GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min hop) on the LIVE event stream —
    each event updates two window states per micro-batch; complete mode,
    same oracle as the batch twin ev_sliding_window."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
            "total_value",
        )
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every view, with its within-1-hour
    purchase when one exists, NULLs otherwise.  The outer side is the part
    inner joins don't exercise: an unmatched view can only emit once the
    watermark proves no matching purchase can still arrive, so emission is
    driven by state EVICTION, not arrival.

    A file-replayed stream never advances the watermark past its own tail
    (the watermark is computed from the previous batch's max event time), so
    the final window of unmatched views would sit in the state store forever
    and the replay would silently drop them.  The fix is the standard
    flush-sentinel pattern: two far-future sentinel rows per side appended
    as separate files (maxFilesPerTrigger=1 keeps them in their own
    micro-batches), so sentinel batch #1 advances the watermark past all
    real data and sentinel batch #2 makes the engine apply it — the final
    unmatched views then emit in a DATA batch, which processAllAvailable is
    guaranteed to wait for (no reliance on no-data-batch timing).  Sentinels
    carry negative event_ids and are filtered after the join.  At scale this
    is exactly how a bounded backfill through a streaming job is drained."""
    joined = _view_purchase_stream_join(
        spark, _left_join_stream_dir(spark, sf_dir), "left_outer", files_per_trigger=1
    )
    # The sentinel filter must run on the RESULT table, not in the stream:
    # in-stream, Catalyst pushes `view_id >= 0` through the left-outer join
    # AND the EventTimeWatermark node into the left scan (view_id is not the
    # event-time column), which deletes the left sentinel before it reaches
    # the watermark node — the global watermark (min over both sides) then
    # never passes the real data and the tail of unmatched views stays in
    # state forever (observed: exactly the last watermark-window of views
    # missing).  Post-hoc it is the same predicate, minus the side effect.
    return run_to_completion(joined, output_mode="append").filter(
        F.col("view_id") >= 0
    )


def _left_join_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events.parquet plus two watermark-flush sentinel files.

    Layout (file source processes in mtime order, one file per trigger):
      part-00000.parquet  -> symlink to the real events table
      part-00001.parquet  -> sentinel view+purchase rows at T+10 years
      part-00002.parquet  -> sentinel rows at T+20 years
    Batch 2 advances the watermark past every real event; batch 3 applies
    that watermark, evicting (and thus emitting) all remaining unmatched
    left rows.  Cached per sf_dir."""
    import hashlib
    import shutil
    import time as _time

    key = hashlib.sha1(f"{sf_dir}/events.parquet#lj".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"fws_streamdir_{key}")
    if os.path.exists(os.path.join(d, "_STAGED")):
        # Self-heal the mtime ordering: if the fixture was regenerated
        # after this dir was staged (its mtime now exceeds the cached flush
        # files'), the file source would replay the sentinels FIRST, the
        # watermark would pass the real data before it arrives, and every
        # late row would be dropped. When ANY file is out of order, re-touch
        # BOTH sentinels in sequence (touching only the stale one could
        # reorder it after its sibling — ADVICE r05), then assert the full
        # data < part-00001 < part-00002 ordering; a fixture carrying a
        # FUTURE mtime (copied with preserved timestamps) can defeat
        # os.utime(now), in which case the dir is restaged from scratch.
        try:
            data_mtime = os.stat(f"{sf_dir}/events.parquet").st_mtime
            parts = [os.path.join(d, f"part-0000{i}.parquet") for i in (1, 2)]
            if any(os.stat(p).st_mtime <= data_mtime for p in parts):
                # anchor EXPLICIT mtimes past the data file (utime(now) is
                # defeated by a future-dated fixture copied with preserved
                # timestamps), re-touching BOTH sentinels so their relative
                # order survives too
                t1 = max(_time.time(), data_mtime + 1.0)
                os.utime(parts[0], (t1, t1))
                os.utime(parts[1], (t1 + 1.0, t1 + 1.0))
            mtimes = [os.stat(p).st_mtime for p in parts]
            if data_mtime < mtimes[0] < mtimes[1]:
                return d
        except OSError:
            pass  # a sentinel vanished (tmp cleaner left _STAGED but reaped
            # a part file — r08 review): fall through and restage
        shutil.rmtree(d)  # ordering unestablishable or dir damaged: restage
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-00000.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    # Explicit mtime anchor for the staging loop (ADVICE r06): utime(now) +
    # sleep is defeated by coarse-timestamp filesystems and future-dated
    # fixtures — the exact tie that forces a restage could otherwise recur
    # in the restaged dir and be returned silently.  Same anchoring as the
    # self-heal branch: sentinel i pinned to max(now, data+1) + (i-1).
    data_mtime = os.stat(f"{sf_dir}/events.parquet").st_mtime
    anchor = max(_time.time(), data_mtime + 1.0)
    for i, year in ((1, "2035"), (2, "2045")):
        # Sentinel user_ids are NEGATIVE and non-null: the equi-join lets
        # Catalyst infer IsNotNull(user_id) and push it into the parquet
        # scan, so a NULL-user sentinel would be filtered AT THE SOURCE and
        # never advance the watermark (numInputRows=0 — observed). Distinct
        # negative ids also keep the two sentinels from joining each other.
        flush = (
            spark.createDataFrame(
                [
                    (-2 * i, f"{year}-01-01 00:00:00", "view", -1),
                    (-2 * i - 1, f"{year}-01-01 00:00:00", "purchase", -2),
                ],
                "event_id long, ts_s string, event_type string, user_id long",
            )
            .select(
                F.col("event_id"),
                F.to_timestamp("ts_s").alias("ts"),
                F.col("event_type"),
                F.col("user_id"),
            )
        )
        # conform to the events schema (missing columns -> NULL literals)
        cols = []
        for f in raw_schema(spark, f"{sf_dir}/events.parquet").fields:
            if f.name == "ts" and f.dataType.simpleString() == "bigint":
                # nanos fixture vintage (io.normalize_event_ts): a plain
                # timestamp->bigint cast would yield SECONDS, not nanos
                cols.append((F.unix_micros("ts") * 1000).alias("ts"))
            elif f.name in flush.columns:
                cols.append(F.col(f.name).cast(f.dataType))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        out = os.path.join(d, f"flush_{i}")
        flush.select(*cols).coalesce(1).write.mode("overwrite").parquet(out)
        part = next(
            p for p in os.listdir(out) if p.endswith(".parquet") and p.startswith("part")
        )
        dst = os.path.join(d, f"part-0000{i}.parquet")
        os.rename(os.path.join(out, part), dst)
        # the writer dir (now just _SUCCESS/.crc litter) must not stay
        # inside the published stream-source dir (r08 review)
        shutil.rmtree(out, ignore_errors=True)
        # mtime ordering is the replay ordering contract — pin it explicitly
        t = anchor + (i - 1) * 1.0
        os.utime(dst, (t, t))
    # Re-validate the full ordering before publishing the dir: if it cannot
    # be established even with explicit anchors (e.g. the fixture's mtime
    # moved mid-staging), fail loudly rather than hand the file source an
    # unordered replay that silently drops every late row.
    staged = [
        os.stat(os.path.join(d, f"part-0000{i}.parquet")).st_mtime for i in (1, 2)
    ]
    if not (os.stat(f"{sf_dir}/events.parquet").st_mtime < staged[0] < staged[1]):
        raise RuntimeError(
            f"sentinel mtime ordering unestablishable in {d}: "
            f"data={os.stat(f'{sf_dir}/events.parquet').st_mtime} parts={staged}"
        )
    Path = __import__("pathlib").Path
    Path(os.path.join(d, "_STAGED")).touch()
    return d


@query(
    "stream_curation_gate",
    oracle="""
    SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_unique_kept
    FROM documents
    WHERE n_chars >= 100 AND lang IN ('en', 'fr', 'de', 'es')
    GROUP BY source
    """,
)
def stream_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest curation: the quality gate + exact-dedup stages of
    curation_end_to_end running ON THE INGEST STREAM — filter (map-side,
    before any state) then ``dropDuplicates`` keyed on (source, sha2(text)),
    so the state store holds one 32-byte digest per unique kept document
    instead of document bodies.  This is the shape that admits documents to
    a training corpus as they arrive, rather than re-running batch dedup
    over the full corpus per ingest; the batch oracle (distinct texts per
    source over the gated set) pins that replaying the stream admits exactly
    the batch-correct set."""
    stream = replay(spark, f"{sf_dir}/documents.parquet")
    gated = stream.filter(
        (F.col("n_chars") >= 100)
        & F.col("lang").isin("en", "fr", "de", "es")
        # NULL texts never reach state: sha2(NULL) is NULL, and the batch
        # oracle's count(DISTINCT text) ignores NULLs — without this filter a
        # fixture vintage with a NULL text passing the quality gate would
        # admit a NULL-digest row the oracle doesn't count (ADVICE r06)
        & F.col("text").isNotNull()
    )
    deduped = gated.select(
        "source", F.sha2("text", 256).alias("text_sha")
    ).dropDuplicates(["source", "text_sha"])
    # append-mode stream emits each admitted (source, digest) exactly once;
    # the per-source rollup runs on the materialized admission table (keeps
    # the streaming query single-stateful-operator, supported everywhere)
    admitted = run_to_completion(deduped, output_mode="append")
    return admitted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique_kept")
    )


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN event_type = 'purchase' THEN INTERVAL '45 minutes'
                    ELSE INTERVAL '30 minutes' END AS gap
        FROM events
    ), m AS (
        SELECT user_id, ts, value, event_id, gap,
               max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS prev_end
        FROM g
    ), marked AS (
        SELECT user_id, ts, value, gap,
               CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0
               END AS is_new,
               event_id
        FROM m
    ), sessions AS (
        SELECT user_id, ts, value, gap,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sess_id
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts + gap), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-gap session windows on the LIVE stream (the streaming twin
    of ev_session_dynamic_gap): purchases hold the session open 45 min,
    everything else 30 min, with the state store merging variable-width
    ranges as micro-batches arrive.  Same gaps-and-islands running-max
    oracle as the batch twin — the point of the pair is that the identical
    ``session_window(gap_expr)`` expression produces identical sessions in
    both engines."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    gap = F.when(F.col("event_type") == "purchase", "45 minutes").otherwise(
        "30 minutes"
    )
    agg = (
        stream.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "total_value",
        )
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_cdc_latest_state",
    oracle="""
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           round(value, 2) AS last_value,
           CAST(event_id AS BIGINT) AS last_event_id
    FROM (
        SELECT user_id, event_type, ts, value, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ev_cdc_latest_state: latest-wins upsert
    compaction ON THE INGEST STREAM via a max_by aggregate keyed on
    (user_id, event_type) with a total (ts, event_id) order — the state
    store holds exactly one newest change per key (the materialized-view
    maintenance shape), and replaying the log yields the batch-identical
    current-state table.  In production this runs in update mode so each
    micro-batch emits only the keys it changed; complete-mode replay here
    makes the final table directly oracle-comparable."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.groupBy("user_id", "event_type")
        .agg(
            F.max_by(
                F.struct("ts", "value", "event_id"), F.struct("ts", "event_id")
            ).alias("last")
        )
        .select(
            "user_id",
            "event_type",
            F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.round("last.value", 2).alias("last_value"),
            F.col("last.event_id").cast("bigint").alias("last_event_id"),
        )
    )
    return run_to_completion(agg, output_mode="complete")


@query(
    "stream_drift_psi",
    oracle=f"""
    WITH b AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               least(CAST(floor(value / {_DRIFT_W}) AS BIGINT), {_DRIFT_BINS - 1}) AS bin
        FROM events
    ), daily AS (
        SELECT day, event_type, bin, CAST(count(*) AS BIGINT) AS c
        FROM b GROUP BY 1, 2, 3
    ), ref AS (
        SELECT event_type, bin, CAST(count(*) AS BIGINT) AS rc
        FROM b GROUP BY 1, 2
    ), grid AS (
        SELECT day, event_type, i AS bin
        FROM (SELECT DISTINCT day, event_type FROM b),
             unnest(range(0, {_DRIFT_BINS})) AS u(i)
    ), filled AS (
        SELECT g.day, g.event_type, g.bin, coalesce(c, 0) AS c
        FROM grid g
        LEFT JOIN daily d
          ON d.day = g.day AND d.event_type = g.event_type AND d.bin = g.bin
    ), refgrid AS (
        SELECT t.event_type, i AS bin
        FROM (SELECT DISTINCT event_type FROM b) t,
             unnest(range(0, {_DRIFT_BINS})) AS u(i)
    ), reffilled AS (
        SELECT g.event_type, g.bin, coalesce(rc, 0) AS rc
        FROM refgrid g
        LEFT JOIN ref r ON r.event_type = g.event_type AND r.bin = g.bin
    ), dtot AS (
        SELECT day, event_type, CAST(sum(c) AS BIGINT) AS n_day
        FROM filled GROUP BY 1, 2
    ), rtot AS (
        SELECT event_type, CAST(sum(rc) AS BIGINT) AS n_ref
        FROM reffilled GROUP BY 1
    )
    SELECT f.day, f.event_type, n_day,
           round(sum(
               ((c + 1) / (n_day + {_DRIFT_BINS}.0) - (rc + 1) / (n_ref + {_DRIFT_BINS}.0))
               * ln(((c + 1) / (n_day + {_DRIFT_BINS}.0)) / ((rc + 1) / (n_ref + {_DRIFT_BINS}.0)))
           ), 6) + 0.0 AS psi
    FROM filled f
    JOIN reffilled r ON r.event_type = f.event_type AND r.bin = f.bin
    JOIN dtot ON dtot.day = f.day AND dtot.event_type = f.event_type
    JOIN rtot ON rtot.event_type = f.event_type
    GROUP BY 1, 2, 3
    """,
)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live drift monitor: the stream maintains per-(day, event_type, bin)
    value-histogram counts in state (the part a 24/7 monitor keeps hot);
    the PSI readout per day-vs-whole-corpus is the few-hundred-row batch
    rollup a dashboard computes from the emitted histogram.  Same binning,
    smoothing and full bin grid as the batch twin ``qa_drift_psi`` — a day
    whose value distribution wanders from the corpus reference alarms.

    Scale: streaming state is one counter per (day, type, bin) cell —
    bounded by the calendar x type x {_DRIFT_BINS}-bin grid, NOT by event
    volume; binning/day-keying are map-side expressions before the one
    stateful exchange.  The post-stream PSI join runs over that same tiny
    cell table."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    smooth = F.lit(float(_DRIFT_BINS))
    binned = stream.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.least(
            F.floor(F.col("value") / F.lit(_DRIFT_W)),
            F.lit(_DRIFT_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    hist = binned.groupBy("day", "event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    drained = run_to_completion(hist, output_mode="complete")
    # The PSI rollup reuses the histogram on both sides of its joins; the
    # memory-sink view cannot be self-joined (conflicting MemoryPlan
    # references), so materialize it. This collect is the monitor's state
    # table — bounded by the calendar x type x bin grid, not event volume.
    cells = spark.createDataFrame(drained.collect(), drained.schema)

    ref = (
        cells.groupBy("event_type", "bin")
        .agg(F.sum("c").alias("rc"))
    )
    bins = spark.range(_DRIFT_BINS).select(F.col("id").alias("bin"))
    grid = cells.select("day", "event_type").distinct().crossJoin(bins)
    filled = grid.join(cells, ["day", "event_type", "bin"], "left").fillna(0, ["c"])
    refgrid = cells.select("event_type").distinct().crossJoin(bins)
    reffilled = refgrid.join(ref, ["event_type", "bin"], "left").fillna(0, ["rc"])
    dtot = filled.groupBy("day", "event_type").agg(F.sum("c").alias("n_day"))
    rtot = reffilled.groupBy("event_type").agg(F.sum("rc").alias("n_ref"))
    j = (
        filled.join(reffilled, ["event_type", "bin"])
        .join(dtot, ["day", "event_type"])
        .join(rtot, "event_type")
    )
    pa = (F.col("c") + 1) / (F.col("n_day") + smooth)
    pb = (F.col("rc") + 1) / (F.col("n_ref") + smooth)
    return (
        j.groupBy("day", "event_type", "n_day")
        .agg((F.round(F.sum((pa - pb) * F.log(pa / pb)), 6) + F.lit(0.0)).alias("psi"))
    )


@query(
    "source_python_datasource",
    oracle="""
    SELECT CAST(40406 AS BIGINT) AS total_words,
           CAST(37789 AS BIGINT) AS distinct_words,
           CAST(389 AS BIGINT) AS max_count,
           CAST(0 AS BIGINT) AS n_mismatch_vs_batch
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sentence generator as a first-class Python
    DataSource (Spark 4 ``pyspark.sql.datasource``): ``spark.read.format
    ("sentences")`` with ``partitions()`` playing the reference's parallel
    source instances (RateControlledSourceFunction.java:11-124) — each
    partition reads a disjoint deterministic id range, so content is
    identical at ANY parallelism.  Golden contract: the same corpus
    constants as ``stream_sentences_golden`` (the rate-source stream) and
    a row-level mismatch count of 0 against the ``spark.range`` batch
    regeneration — three source surfaces, one generator, zero drift."""
    from ..sources import register_sentence_source
    from ..streaming.sentences import with_sentences

    register_sentence_source(spark)
    df = (
        spark.read.format("sentences")
        .option("n", 2000)
        .option("size", 20)
        .option("seed", 42)
        .option("numPartitions", 8)
        .load()
    )
    ref = with_sentences(
        spark.range(2000), row_id="id", sentence_size=20, seed=42
    ).select("seq", F.col("sentence").alias("ref_sentence"))
    mism = (
        df.join(ref, "seq")
        .agg(
            F.sum(
                F.when(F.col("sentence") != F.col("ref_sentence"), 1).otherwise(0)
            ).alias("n_mismatch_vs_batch")
        )
    )
    toks = tokenize(df.select("sentence"), "sentence")
    stats = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("total_words"),
            F.count(F.lit(1)).alias("distinct_words"),
            F.max("c").alias("max_count"),
        )
    )
    return stats.crossJoin(F.broadcast(mism))  # mism: single row


@query(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(40406 AS BIGINT) AS total_words,
           CAST(37789 AS BIGINT) AS distinct_words,
           CAST(389 AS BIGINT) AS max_count,
           CAST(0 AS BIGINT) AS n_mismatch_vs_batch
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentence generator STREAMED through the Python DataSource's
    SimpleDataSourceStreamReader (``readStream.format("sentences")``):
    plain row-position offsets + deterministic generation give the
    reference's source-replay contract (ListCheckpointed,
    RateControlledSourceFunction.java:102-123) without snapshotted state —
    ``readBetweenOffsets`` regenerates any replayed batch bit-identically
    (kill/recover pinned in test_sentence_source.py).  Same golden corpus
    constants as the rate-source stream and the batch read; mismatch-vs-
    batch-regeneration must be 0."""
    from ..sources import register_sentence_source
    from ..streaming.sentences import with_sentences

    register_sentence_source(spark)
    n_rows, size, seed = 2000, 20, 42
    stream = (
        spark.readStream.format("sentences")
        .option("n", n_rows)
        .option("size", size)
        .option("seed", seed)
        .option("rowsPerBatch", 500)
        .load()
    )
    counts = tokenize(stream, text_col="sentence", out_col="word").groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    streamed = run_to_completion(counts, output_mode="complete")
    batch_counts = (
        tokenize(
            with_sentences(
                spark.range(n_rows), row_id="id", sentence_size=size, seed=seed
            ),
            text_col="sentence",
            out_col="word",
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("bcnt"))
    )
    mismatch = (
        streamed.join(batch_counts, "word", "full_outer")
        .filter(
            F.col("cnt").isNull()
            | F.col("bcnt").isNull()
            | (F.col("cnt") != F.col("bcnt"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_vs_batch"))
    )
    stats = streamed.agg(
        F.sum("cnt").cast("bigint").alias("total_words"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.max("cnt").alias("max_count"),
    )
    return stats.crossJoin(mismatch)


@query(
    "stream_timeout_flush",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_timeout_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-driven state flush — the one stateful-API feature the other
    streaming queries don't exercise: per-user totals accumulate in state
    and are emitted ONLY when an EventTimeTimeout fires (the key has been
    idle past the gap as the watermark advances), the pattern behind
    emit-once session summaries and abandoned-cart style alerts.  Replay
    reuses the left-join staging dir (events + two future-dated sentinel
    files): the sentinels push the watermark past every real key's timer,
    so each key flushes exactly once and the emitted table equals the
    batch per-user rollup.  Sentinel keys are negative and filtered from
    the output; the 2045 sentinel's own timer never fires.

    Scale: state is (count, sum) per live key — flushed and REMOVED at
    timeout, so state size tracks the active-key working set, not history;
    this is the state-hygiene pattern unbounded update-mode counts lack."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    stream = (
        replay(spark, _left_join_stream_dir(spark, sf_dir), files_per_trigger=1)
        .withWatermark("ts", "1 second")
        .select("user_id", "ts", "value")
    )

    gap_ms = 3_600_000  # flush a key after 1h of event-time idleness

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("tot", DoubleType()),
            StructField("last_ms", LongType()),
        ]
    )

    def flush(key, pdfs, state: GroupState):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:
            n, tot, _ = state.get
            state.remove()
            # raw sum here; rounding happens engine-side below (F.round is
            # HALF_UP like the oracle's round(); Python round() is
            # banker's and diverges on exact half-boundaries — ADVICE r07)
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "n_events": [n],
                    "total_value": [tot],
                }
            )
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        prev_n, prev_tot, prev_last = state.get if state.exists else (0, 0.0, 0)
        n = prev_n + len(batch)
        tot = prev_tot + float(batch["value"].to_numpy(np.float64).sum())
        last_ms = max(prev_last, int(batch["ts"].max().value // 1_000_000))
        state.update((n, tot, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {"user_id": [], "n_events": [], "total_value": []}
        ).astype({"user_id": "int64", "n_events": "int64", "total_value": "float64"})

    flushed = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            flush,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("user_id") >= 0)  # drop the staging sentinels
        .withColumn("total_value", F.round("total_value", 2))
    )
    return run_to_completion(flushed, output_mode="append")


@query(
    "stream_timeout_flush_tws",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_timeout_flush_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_timeout_flush on the Spark 4 transformWithStateInPandas API:
    explicit ValueState + REAL event-time timers (registerTimer /
    handleExpiredTimer) instead of applyInPandasWithState's
    EventTimeTimeout — the stateful-processor feature pair the older API
    cannot express (named state variables, multiple re-armable timers per
    key). Same staged replay (events + two future-dated sentinels), same
    emit-once-per-key contract, same oracle as the apply twin: the second
    sentinel's watermark fires every real key's timer, sentinels are
    negative-keyed and filtered from the result.

    Heals the 8-round environment gate: the worker-side protobuf runtime is
    the container's bundled pure-Python copy, wired up by
    streaming/tws._ensure_protobuf_runtime at module import (which the
    worker runs when it unpickles TimeoutFlushProcessor).

    Scale: identical state-hygiene story to the apply twin — state is
    (count, sum, last_ms) per LIVE key, removed at flush; timers are
    per-key singletons (re-armed, not accumulated), so the timer store
    tracks the active working set too."""
    from ..streaming.tws import tws_timeout_flush

    stream = (
        replay(spark, _left_join_stream_dir(spark, sf_dir), files_per_trigger=1)
        .withWatermark("ts", "1 second")
        .select("user_id", "ts", "value")
    )
    # tws_timeout_flush pins the RocksDB provider (transformWithState
    # requires it) as a context manager scoped to the query run, so the
    # session's configured store is restored no matter how this exits
    # (ADVICE r09: the save/restore lives in tws.py now, not per-caller).
    with tws_timeout_flush(stream) as tws_df:
        flushed = (
            tws_df
            .filter(F.col("user_id") >= 0)  # drop the staging sentinels
            .withColumn("total_value", F.round("total_value", 2))
        )
        return run_to_completion(flushed, output_mode="append")


@query(
    "stream_windowed_topk",
    oracle="""
    WITH agg AS (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS win_start,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT win_start, event_type, n,
               CAST(row_number() OVER (PARTITION BY win_start
                                       ORDER BY n DESC, event_type)
                    AS BIGINT) AS rnk
        FROM agg
    )
    SELECT win_start, event_type, n, rnk FROM r WHERE rnk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k on the live stream: the trending-now topology.  The
    STREAM maintains the per-(hour window, event_type) counts (complete
    mode, grid-bounded state — windows x types, not event volume); the
    top-3 rank per window is a batch window function over the emitted
    result table, because a rank over a still-open window is meaningless
    mid-stream — ranking at read time is the standard dashboard-side cut
    of this query.  Final output equals the batch twin exactly.

    Scale: streaming state is the calendar x type grid; the read-side rank
    partitions by window start (bounded frames), never the event stream."""
    from pyspark.sql import Window

    stream = replay(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
        )
    )
    final = run_to_completion(agg, output_mode="complete")
    w = Window.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    return final.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= 3
    )


@query(
    "stream_session_paths_tws",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, event_id, event_type, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM marked
    ), paths AS (
        SELECT user_id, sess_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sessions GROUP BY user_id, sess_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def stream_session_paths_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev_session_paths assembled ON THE LIVE STREAM via a named LIST state
    (VERDICT r09 #4's other half: ListState, after stream_windowed_topk_tws
    exercised MapState).  The processor buffers each user's open-session
    events in a ListState, emits a session closed by a >= 30 min idle gap
    (Append mode) only once the WATERMARK passes its gap boundary — so an
    out-of-order event in a later micro-batch can never belong to an
    already-emitted session (ADVICE r10) — keeps the not-yet-finalized
    remainder in state, and flushes it through a re-armed event-time timer
    once the watermark passes last_event + gap — the Flink-style session
    assembly the old API would serialize as one monolithic blob per key.
    Same gaps-and-islands oracle as the batch twin; the read side just
    counts paths.

    Sentinel staging: the watermark-flush rows carry negative user_ids, so
    under user_id keying they are their own keys — real users' tails flush
    purely on the watermark the sentinels advance; sentinel rows are
    filtered from the result (NULL user_ids, a legal group, are kept).
    NULL-ts rows would be dropped by the watermark operator (a streaming
    sessionizer cannot place an event without event time); the fixtures
    carry none, and the null-vintage sweep excludes staged streaming
    queries by design.

    Scale: state per user is the OPEN session's event list (point-appended
    by ListState, closed sessions leave state immediately) plus one
    re-armed timer; the output exchange is path-keyed counts with map-side
    partials, and the top-20 is TakeOrderedAndProject."""
    from ..streaming.tws import tws_session_paths

    stream = (
        replay(spark, _left_join_stream_dir(spark, sf_dir), files_per_trigger=1)
        .withWatermark("ts", "1 second")
        .select("user_id", "ts", "event_id", "event_type")
    )
    with tws_session_paths(stream) as paths:
        kept = paths.filter(
            F.col("user_id").isNull() | (F.col("user_id") >= 0)
        ).select("path")
        final = run_to_completion(kept, output_mode="append")
    return (
        final.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        # asc_nulls_last: a NULL path (all-NULL-type session) must sort
        # after real paths at the LIMIT boundary like DuckDB's ASC default
        # (Spark asc is NULLS FIRST — review r10)
        .orderBy(F.desc("n_sessions"), F.asc_nulls_last("path"))
        .limit(20)
    )


@query(
    "stream_windowed_topk_tws",
    oracle="""
    WITH agg AS (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS win_start,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT win_start, event_type, n,
               CAST(row_number() OVER (PARTITION BY win_start
                                       ORDER BY n DESC, event_type)
                    AS BIGINT) AS rnk
        FROM agg
    )
    SELECT win_start, event_type, n, rnk FROM r WHERE rnk <= 3
    """,
)
def stream_windowed_topk_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_windowed_topk on transformWithStateInPandas with a named
    MAP state (VERDICT r09 #4): the processor keys on event_type and holds
    one MapState entry PER OPEN HOURLY WINDOW (win_start_ms -> count) —
    point-updated per bucket, not rewritten wholesale like a serialized
    blob under the old API — plus a re-armed event-time timer that emits
    the whole map once and clears it.  Same oracle as the complete-mode
    window-aggregate twin.

    Staging reuses stream_timeout_flush's sentinel replay, with one twist:
    the sentinels share event_type values with real rows, so they are
    REKEYED to a reserved '__sentinel' type before the groupBy — real keys
    then see no sentinel input, their timers fire purely on the watermark
    the sentinel batches advance, and the sentinel key's own state is
    simply never emitted (its timer sits past the final watermark).

    Scale: state is the per-type map of OPEN windows (grid-bounded: types x
    open hours), flushed and cleared on idle-gap expiry; timers are per-key
    singletons.  The read-side top-3 rank partitions by window start —
    bounded frames — exactly like the twin."""
    from pyspark.sql import Window

    from ..streaming.tws import tws_windowed_counts

    stream = (
        replay(spark, _left_join_stream_dir(spark, sf_dir), files_per_trigger=1)
        .withWatermark("ts", "1 second")
        .select(
            F.when(F.col("user_id") < 0, F.lit("__sentinel"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            "ts",
        )
    )
    with tws_windowed_counts(stream) as counts:
        # NULL event_type is a legal group the oracle ranks; a bare
        # != '__sentinel' would NULL out and drop it (review r10)
        emitted = counts.filter(
            F.col("event_type").isNull() | (F.col("event_type") != "__sentinel")
        ).select(
            F.date_format(
                F.timestamp_millis("win_start_ms"), "yyyy-MM-dd HH:mm:ss"
            ).alias("win_start"),
            "event_type",
            "n",
        )
        final = run_to_completion(emitted, output_mode="append")
    # Re-aggregate before ranking (ADVICE r10): a key that receives input
    # AFTER its idle timer fired restarts its map from zero and flushes the
    # same (win_start, event_type) again; under the one-real-batch staging
    # this cannot happen, but a multi-batch replay would hand the ranker
    # duplicate rows and corrupt the top-3 without this sum.
    final = final.groupBy("win_start", "event_type").agg(F.sum("n").alias("n"))
    w = Window.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    return final.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= 3
    )


def _stream_dedup_ctes() -> str:
    """The shared CTE chain of the streaming-dedup oracles: dedup_q's md5
    MinHash banding chain (the same signature + banding math as the
    value-checked md5 pipeline) plus per-bucket owners (min doc_id ever to
    claim the bucket, standing in for first-arrival under the
    doc_id-ordered replay contract) and the blocked docs."""
    from .dedup_q import _md5_band_ctes

    return (
        _md5_band_ctes()
        + """, owners AS (
        SELECT band_idx, band_key, min(doc_id) AS owner
        FROM bands GROUP BY band_idx, band_key
    ), blocked AS (
        SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_blocked_bands
        FROM bands b JOIN owners o USING (band_idx, band_key)
        WHERE o.owner < b.doc_id
        GROUP BY b.doc_id
    )"""
    )


def _stream_dedup_minhash_oracle() -> str:
    """Batch-replay oracle for stream_dedup_minhash: the blocked set with
    per-doc blocked-band counts (shared CTEs: _stream_dedup_ctes)."""
    return (
        _stream_dedup_ctes()
        + """
    SELECT doc_id, n_blocked_bands FROM blocked
    """
    )


def _stream_dedup_admitted_oracle() -> str:
    """Batch-replay oracle for stream_dedup_admitted: EVERY document with
    its admission verdict — the complement of the blocked set over the
    full corpus (docs with no shingles claim no buckets, so nothing can
    block them: admitted)."""
    return (
        _stream_dedup_ctes()
        + """
    SELECT d.doc_id,
           CAST(coalesce(b.n_blocked_bands, 0) AS BIGINT) AS n_blocked_bands,
           b.doc_id IS NULL AS is_admitted
    FROM documents d LEFT JOIN blocked b USING (doc_id)
    """
    )


@query("stream_dedup_minhash", oracle=_stream_dedup_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup admission ON THE INGEST STREAM (VERDICT r10 #6):
    the one LLM-pipeline shape that had a batch twin (dedup_incremental_shard)
    but no live twin.  Each arriving document computes its 32-perm MinHash
    signature ROW-WISE (higher-order functions over the token array — md5
    shingle hashes, affine permutations mod 2^31-1, identical constants to
    dedup_q's value-checked md5 pipeline — so the signature stage is
    stateless and shuffle-free on the stream), explodes into 8 band-bucket
    claims, and resolves admission in a transformWithStateInPandas registry
    keyed by (band_idx, band_key): the first claimant owns the bucket
    forever (ValueState, 8 bytes/bucket), later claimants are emitted as
    blocked.  A doc is DROPPED iff any of its 8 buckets was already owned —
    the reference's stateful keyed pipeline (StatefulWordCount.java:85-89)
    applied to near-dup admission.  The result is the dropped set with its
    per-doc blocked-band count.

    Oracle-parity contract: within a micro-batch, claims resolve in doc_id
    order; across batches first arrival wins.  The batch-replay oracle
    adjudicates GLOBAL doc_id order, which the staged single-file replay
    delivers (and any doc_id-ordered multi-batch replay preserves); on an
    arbitrary-order live stream the semantics stay well-defined
    (first-arrival-wins) but the tie-break differs from the oracle's —
    the same honesty note as the reference's own run-order dependence.

    Scale: state is one 8-byte owner per OCCUPIED bucket (<= 8 x corpus
    docs, sharded by the bucket-key exchange — the only shuffle); no pair
    join, no membership lists, emitted rows bounded by 8 x dup count.
    At 100 TB this is the standing admission index a training-data ingest
    keeps warm, with dedup decided per arriving doc instead of re-running
    batch LSH over the corpus."""
    return _stream_dedup_blocked_counts(spark, sf_dir)


def _stream_dedup_blocked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming MinHash-LSH admission pipeline and return the
    BLOCKED side as per-doc blocked-band counts (doc_id, n_blocked_bands).
    Shared by stream_dedup_minhash (which returns it directly) and
    stream_dedup_admitted (which complements it over the corpus) — one
    pipeline, one set of registry constants, two read-side shapes."""
    from .dedup_q import _MD5_BANDS, _MD5_K, _MD5_PERMS, _P31, _SHINGLE_N
    from ..streaming.tws import tws_bucket_claims

    stream = replay(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = F.filter(
        F.split(F.col("text"), r"\W+"), lambda x: F.length(x) > 0
    )
    n_sh = F.size(toks) - (_SHINGLE_N - 1)
    sh = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice(toks, i, _SHINGLE_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # hm materialized in its OWN projection: 32 downstream array_min's
    # reference it, and CollapseProject keeps non-cheap multi-referenced
    # producers un-inlined, so the md5 pass runs once per doc
    hm = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % _P31,
    )
    sig = stream.withColumn("hm", hm).select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hm"), lambda x: (F.lit(a) * x + F.lit(b)) % _P31)
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(_MD5_PERMS)
        ],
    )
    r = _MD5_K // _MD5_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.concat_ws(
                            ":",
                            *[F.col(f"m{bi * r + j}").cast("string") for j in range(r)],
                        ).alias("band_key"),
                    )
                    for bi in range(_MD5_BANDS)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id", "b.band_idx", "b.band_key"
    )
    # docs with no shingles (NULL/short text) band to NULL keys via the
    # empty array's array_min -> they must not claim a shared bucket; the
    # oracle's sig CTE simply has no row for them (no shingle rows), so
    # drop them before the registry exactly like the oracle does
    bands = bands.filter(F.col("band_key").isNotNull() & (F.col("band_key") != ""))
    with tws_bucket_claims(bands) as blocked:
        final = run_to_completion(blocked, output_mode="append")
    return final.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocked_bands")
    )


@query("stream_dedup_admitted", oracle=_stream_dedup_admitted_oracle())
def stream_dedup_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADMITTED side of the streaming MinHash-LSH dedup gate (VERDICT
    r11 #5): a production ingest needs the surviving corpus — or a per-doc
    ``is_admitted`` verdict — from the same pass that emits the blocked
    set, not just the drop list.  Same pipeline, same registry constants,
    same oracle-parity contract as stream_dedup_minhash (the shared
    ``_stream_dedup_blocked_counts`` builder): the registry emits one row
    per blocked (doc, band); this query complements those counts over the
    full corpus, so every document carries its verdict — ``is_admitted``
    true with 0 blocked bands, or false with the count.  Docs with no
    shingles (NULL/short text) claim no buckets, so nothing can block
    them: admitted, exactly like the oracle's LEFT JOIN.

    The complement join reads the corpus BATCH-side: at 100 TB the live
    equivalent is tagging each arriving doc with the registry's verdict in
    the same micro-batch (the blocked rows ARE that verdict, keyed by
    doc_id); replaying the corpus through a left join against the
    registry output is the deterministic stand-in that keeps the result
    value-checkable.

    Scale: the streaming leg is stream_dedup_minhash's (8-byte owner per
    occupied bucket, bucket-key exchange, no pair join); the complement is
    one shuffle join of (doc_id -> n_blocked_bands) — bounded by the dup
    rate — against a doc_id projection of the corpus scan."""
    blocked = _stream_dedup_blocked_counts(spark, sf_dir)
    # memoized tuned read like every other batch leg (ADVICE r12): a bare
    # spark.read here only worked because the streaming builder tunes the
    # session first, and it forfeits plan memoization
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(blocked, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_blocked_bands"), F.lit(0)).alias("n_blocked_bands"),
        F.col("n_blocked_bands").isNull().alias("is_admitted"),
    )


from .multimodal_q import PPM_STATS_ORACLE as _PPM_STATS_ORACLE  # noqa: E402


@query("stream_mm_decode_ppm", oracle=_PPM_STATS_ORACLE)
def stream_mm_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode ON THE INGEST STREAM (VERDICT r12 #6: multimodal
    ingest is a streaming reality, so the decode stage needs a live twin):
    the documents file-replay stream flows through the SAME Arrow-batched
    mapInPandas encode->decode stage as the batch mm_decode_ppm query
    (decode_ppm_stats — deterministic P6 render, encode_ppm serialize,
    decode_ppm full-grammar parse, raster stats), and the micro-batch sink
    accumulates the per-image stats in append mode.  Oracle is shared
    VERBATIM with the batch twin (multimodal_q.PPM_STATS_ORACLE), so the
    two read shapes are value-checked against one arithmetic contract.

    Scale: the stage is stateless and per-row worker-local — no state
    store, no shuffle, no watermark needed; each micro-batch pays exactly
    one Arrow crossing.  At 100 TB this is the decode-on-arrival pattern: a
    media crawl lands as binary payloads and the cluster emits typed
    features in the same micro-batch, instead of re-scanning the corpus
    with a batch decode job later."""
    from ..operators.multimodal import decode_ppm_stats

    stream = replay(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return run_to_completion(decode_ppm_stats(stream), output_mode="append")
