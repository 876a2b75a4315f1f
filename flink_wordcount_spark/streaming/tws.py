"""CountWords on the Spark 4 stateful-processor API (transformWithStateInPandas).

Same semantics as stateful.py's applyInPandasWithState implementation
(reference CountWords, StatefulWordCount.java:134-180) on the newer API:
explicit named ValueState, per-key Arrow-batched processing, Update mode.

Environment gate, HEALED: transformWithState's Python state-server protocol
imports ``google.protobuf``, which is not installed in this container.
``_ensure_protobuf_runtime()`` (module level, so it runs in the driver AND
in every Python worker that unpickles a processor from this module) points
``sys.path`` at a pure-Python protobuf runtime that IS on the machine — the
BSD-licensed copy bundled inside the google-cloud-sdk's App Engine platform
(``/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf``,
v6.32.0). PySpark 4.1's generated ``StateMessage_pb2`` is gencode 6.33.0 —
one minor version ahead — so we also set protobuf's own documented escape
hatch ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` (read at gencode
import time via ``os.getenv``; the 6.32/6.33 gap is within protobuf's
cross-version wire guarantees for pure-Python runtimes). Check
``tws_available()`` before use; the applyInPandasWithState path in
stateful.py remains the primary implementation. transformWithState also
needs the RocksDB state store provider conf — scoped per query with
``session.scoped_confs(spark, ROCKSDB_STATE)`` (ADVICE r09: never leaked
into the session).
"""

from __future__ import annotations

import os
import sys
import tempfile

# Known pure-Python protobuf runtimes shipped with the base image (public,
# BSD-licensed). Probed only when `google.protobuf` is not importable.
_PROTOBUF_FALLBACK_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _protobuf_shim_dir(platform_root: str) -> str:
    """A sys.path entry exposing ONLY the platform's ``google/`` package.

    The App Engine platform root also carries importable top-level names
    (api_server, wrapper_util, dev_appserver, demos, ...) — appending it
    wholesale would let any unrelated missing import silently resolve to an
    ancient bundled copy instead of raising ImportError (review r09). The
    shim is a temp dir holding one symlink, built idempotently; on any OS
    error we fall back to the wide path rather than lose the heal."""
    target = os.path.join(platform_root, "google")
    shim = os.path.join(
        tempfile.gettempdir(), f"fws_protobuf_shim_{os.getuid()}"
    )
    link = os.path.join(shim, "google")
    try:
        os.makedirs(shim, exist_ok=True)
        if not (os.path.islink(link) and os.readlink(link) == target):
            tmp = f"{link}.tmp{os.getpid()}"
            os.symlink(target, tmp)
            os.replace(tmp, link)  # atomic vs concurrent worker bootstraps
        return shim
    except OSError:
        return platform_root


def _ensure_protobuf_runtime() -> bool:
    """Make ``google.protobuf`` importable, returning True on success.

    Module-level call sites matter: Python workers import this module when
    unpickling ``RunningCountProcessor`` / timer processors, which happens
    BEFORE pyspark's worker imports ``StateMessage_pb2`` — so both the
    ``sys.path`` entry and the version-check env var are in place in the
    worker process even when the JVM (and hence the worker daemon's
    environment) was launched before this package was imported.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    for path in _PROTOBUF_FALLBACK_PATHS:
        if not os.path.isdir(os.path.join(path, "google", "protobuf")):
            continue
        path = _protobuf_shim_dir(path)  # expose only google/, not the root
        if path not in sys.path:
            sys.path.append(path)  # append: never shadow real site-packages
        # Python workers have the spark-core JAR on sys.path; its
        # google/protobuf/ directory (Java classes) imports as an EMPTY
        # namespace package, and once that is cached in sys.modules the
        # appended real package can never win ("cannot import name
        # 'descriptor' from 'google.protobuf' (unknown location)",
        # reproduced against spark-core_2.13-4.1.2.jar). Purge ONLY the
        # jar-poisoned stub itself — 'google', 'google.protobuf' and its
        # descendants, each only when location-less (no __file__).  A wider
        # "all location-less google.*" sweep can evict legitimate PEP-420
        # namespace parents like google.cloud from sys.modules (ADVICE r09).
        pb = sys.modules.get("google.protobuf")
        if pb is not None and getattr(pb, "__file__", None) is None:
            for name in [
                k
                for k in sys.modules
                if (k in ("google", "google.protobuf") or k.startswith("google.protobuf."))
                and getattr(sys.modules[k], "__file__", None) is None
            ]:
                del sys.modules[name]
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            continue
        # Official protobuf escape hatch for a gencode-ahead-of-runtime gap
        # (pyspark gencode 6.33.0 vs bundled runtime 6.32.0).  Set ONLY once
        # the fallback runtime actually imports (ADVICE r09: a process-wide
        # env mutation must not outlive a failed heal) — and still BEFORE
        # any *_pb2 import, which happens later, at query execution, via
        # os.getenv in the generated gencode.
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        return True
    return False


_PROTOBUF_OK = _ensure_protobuf_runtime()

from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import ROCKSDB_STATE, scoped_confs

OUTPUT_SCHEMA = StructType(
    [StructField("word", StringType()), StructField("cnt", LongType())]
)


class RunningCountProcessor(StatefulProcessor):
    """Per-word running total in a named ValueState; emits the post-batch
    total per key (single-batch replay -> equals the batch groupBy count)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._count = handle.getValueState("cnt", "cnt BIGINT")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        prev = self._count.get()[0] if self._count.exists() else 0
        n = sum(len(p) for p in rows)
        total = prev + n
        self._count.update((total,))
        yield pd.DataFrame({"word": [key[0]], "cnt": [total]})

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """True iff the protobuf runtime transformWithState depends on imports
    (native, or healed via the bundled pure-Python fallback)."""
    return _ensure_protobuf_runtime()


TIMEOUT_FLUSH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


class TimeoutFlushProcessor(StatefulProcessor):
    """Per-key (count, sum) accumulated in a ValueState and emitted ONLY by
    an expiring EVENT-TIME TIMER — the transformWithState twin of
    plans/streaming_q.stream_timeout_flush's applyInPandasWithState
    EventTimeTimeout flush (reference semantics: emit-once session summary
    after idle gap). One registered timer per key, re-armed on every input
    batch: the previous timer is deleted, the new one fires at
    last_event_ms + gap_ms once the watermark passes it; the fired handler
    emits the rollup and clears the state, so state size tracks the live
    working set, not history.

    Must live at module level: workers unpickle the processor by reference,
    importing this module — which is what runs ``_ensure_protobuf_runtime``
    inside the worker process before pyspark imports ``StateMessage_pb2``.
    """

    def __init__(self, gap_ms: int = 3_600_000) -> None:
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._agg = handle.getValueState("agg", "n BIGINT, tot DOUBLE, last_ms BIGINT")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(rows), ignore_index=True)
        prev_n, prev_tot, prev_last = (
            self._agg.get() if self._agg.exists() else (0, 0.0, 0)
        )
        n = prev_n + len(batch)
        tot = prev_tot + float(batch["value"].to_numpy("float64").sum())
        last_ms = max(prev_last, int(batch["ts"].max().value // 1_000_000))
        self._agg.update((n, tot, last_ms))
        if prev_last and prev_last != last_ms:
            self._handle.deleteTimer(prev_last + self._gap_ms)
        self._handle.registerTimer(last_ms + self._gap_ms)
        return iter([])

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        if not self._agg.exists():
            return  # timer raced a key already flushed; nothing to emit
        n, tot, _ = self._agg.get()
        self._agg.clear()
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [tot]}
        ).astype({"user_id": "int64", "n_events": "int64", "total_value": "float64"})

    def close(self) -> None:
        pass


WINDOWED_COUNT_SCHEMA = StructType(
    [
        StructField("win_start_ms", LongType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
    ]
)


class WindowedCountProcessor(StatefulProcessor):
    """Per-event-type hourly window counts in a named MAP state — the
    named-state surface applyInPandasWithState cannot express (VERDICT r09
    #4): one MapState entry per open window bucket under the key, plus a
    ValueState for the last-seen event time, plus one re-armable event-time
    timer that emits the WHOLE map once and clears it (emit-once append
    semantics, same staging as TimeoutFlushProcessor).

    With the old API this map would be a single serialized blob rewritten
    wholesale every batch; MapState gives per-bucket point updates — the
    state-store win that matters when a key holds many open windows.

    Must live at module level: workers unpickle the processor by reference,
    which runs ``_ensure_protobuf_runtime`` in the worker process."""

    def __init__(self, window_ms: int = 3_600_000, gap_ms: int = 3_600_000) -> None:
        self._window_ms = window_ms
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._wins = handle.getMapState("wins", "win_ms BIGINT", "cnt BIGINT")
        self._last = handle.getValueState("last", "last_ms BIGINT")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(rows), ignore_index=True)
        ms = batch["ts"].to_numpy("datetime64[ns]").astype("int64") // 1_000_000
        buckets = (ms // self._window_ms) * self._window_ms
        for w, c in pd.Series(buckets).value_counts().items():
            k = (int(w),)
            prev = self._wins.getValue(k)[0] if self._wins.containsKey(k) else 0
            self._wins.updateValue(k, (prev + int(c),))
        prev_last = self._last.get()[0] if self._last.exists() else 0
        new_last = max(prev_last, int(ms.max()))
        self._last.update((new_last,))
        # single live timer per key: re-arm on movement (TimeoutFlush's
        # bookkeeping — delete the old expiry first, duplicates otherwise)
        if prev_last and prev_last != new_last:
            self._handle.deleteTimer(prev_last + self._gap_ms)
        self._handle.registerTimer(new_last + self._gap_ms)
        return iter([])

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        entries = sorted((k[0], v[0]) for k, v in self._wins.iterator())
        self._wins.clear()
        self._last.clear()
        if not entries:
            return  # timer raced a key already flushed; nothing to emit
        yield pd.DataFrame(
            {
                "win_start_ms": [w for w, _ in entries],
                "event_type": [key[0]] * len(entries),
                "n": [c for _, c in entries],
            }
        ).astype({"win_start_ms": "int64", "n": "int64"})

    def close(self) -> None:
        pass


@contextmanager
def tws_windowed_counts(
    stream: DataFrame, window_ms: int = 3_600_000, gap_ms: int = 3_600_000
) -> Iterator[DataFrame]:
    """(event_type, ts) watermarked stream -> timer-flushed per-type hourly
    window counts via MapState.  Context manager — see tws_timeout_flush."""
    with scoped_confs(stream.sparkSession, ROCKSDB_STATE):
        yield stream.groupBy("event_type").transformWithStateInPandas(
            statefulProcessor=WindowedCountProcessor(window_ms, gap_ms),
            outputStructType=WINDOWED_COUNT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )


SESSION_PATH_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("path", StringType())]
)


class SessionPathProcessor(StatefulProcessor):
    """Per-user session-path assembly in a named LIST state — the event
    buffer the old API would have to serialize as one blob. Each input
    batch merges the buffered events with the new ones, splits the sorted
    sequence at >= gap idle boundaries (the same gaps-and-islands rule as
    the ev_session_paths batch twin), and emits a closed session's path
    (Append mode) ONLY once the WATERMARK has passed its gap boundary
    (session_end + gap): an out-of-order event arriving in a later
    micro-batch could otherwise belong to an already-emitted session
    (ADVICE r10).  Spark drops input below the watermark before it reaches
    the processor, so a watermark-finalized session can never be extended
    or merged.  Not-yet-finalized sessions stay in the ListState — state
    per user is bounded by the gap + watermark-delay horizon, not user
    history.  The re-armed event-time timer flushes the remainder once the
    watermark passes last_event + gap.

    Path semantics match the oracle's string_agg(event_type, '>' ORDER BY
    ts, event_id): NULL types are skipped, an all-NULL session has a NULL
    path, and the (ts, event_id) sort treats NULL event_id as LAST
    (DuckDB's default, which the batch twin also matches).

    Must live at module level: workers unpickle the processor by
    reference, which runs ``_ensure_protobuf_runtime`` in the worker."""

    def __init__(self, gap_ms: int = 1_800_000) -> None:
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState(
            "events", "ts_us BIGINT, event_id BIGINT, event_type STRING"
        )
        self._last = handle.getValueState("last", "last_ms BIGINT")

    @staticmethod
    def _sort_key(ev):
        ts_us, event_id, _ = ev
        return (ts_us, event_id is None, event_id if event_id is not None else 0)

    def _sessions(self, events: list) -> list[list]:
        """Split the sorted event list at >= gap boundaries."""
        out, cur = [], []
        gap_us = self._gap_ms * 1000
        prev = None
        for ev in sorted(events, key=self._sort_key):
            if prev is not None and ev[0] - prev >= gap_us:
                out.append(cur)
                cur = []
            cur.append(ev)
            prev = ev[0]
        if cur:
            out.append(cur)
        return out

    @staticmethod
    def _path(session: list):
        types = [t for _, _, t in session if t is not None]
        return ">".join(types) if types else None

    def _emit(self, key, sessions: list) -> Iterator[pd.DataFrame]:
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "path": [self._path(s) for s in sessions],
                }
            )

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(rows), ignore_index=True)
        ts_us = batch["ts"].to_numpy("datetime64[ns]").astype("int64") // 1_000
        # vectorized column->list conversion (review r10): the staged
        # replay delivers a whole file per micro-batch, so a hot user's
        # entire history passes through here — per-row .iloc lookups were
        # O(n) interpreted pandas indexing on the measured live path
        ids = batch["event_id"].astype(object).where(batch["event_id"].notna(), None)
        types = (
            batch["event_type"]
            .astype(object)
            .where(batch["event_type"].notna(), None)
        )
        new = list(
            zip(
                (int(t) for t in ts_us.tolist()),
                (int(i) if i is not None else None for i in ids.tolist()),
                types.tolist(),
            )
        )
        merged = [tuple(ev) for ev in self._buf.get()] + new
        sessions = self._sessions(merged)
        # Close only sessions the WATERMARK has finalized (ADVICE r10):
        # wm >= session_end + gap means no admissible future event can
        # extend or merge the session (later input below wm is dropped by
        # Spark).  Sessions are time-ordered, so the safe set is a prefix.
        wm_us = timerValues.getCurrentWatermarkInMs() * 1000
        gap_us = self._gap_ms * 1000
        n_safe = 0
        for s in sessions[:-1]:
            if s[-1][0] + gap_us <= wm_us:
                n_safe += 1
            else:
                break
        closed = sessions[:n_safe]
        tail = [ev for s in sessions[n_safe:] for ev in s]
        self._buf.clear()
        self._buf.put([tuple(ev) for ev in tail])
        prev_last = self._last.get()[0] if self._last.exists() else 0
        new_last = max(prev_last, int(ts_us.max()) // 1_000)
        self._last.update((new_last,))
        if prev_last and prev_last != new_last:
            self._handle.deleteTimer(prev_last + self._gap_ms)
        self._handle.registerTimer(new_last + self._gap_ms)
        yield from self._emit(key, closed)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        tail = [tuple(ev) for ev in self._buf.get()]
        self._buf.clear()
        self._last.clear()
        # the buffer may hold several not-yet-finalized sessions (closing
        # is watermark-gated); the timer fires only once the watermark has
        # passed last_event + gap, which finalizes every one — re-split
        # and emit them all
        yield from self._emit(key, self._sessions(tail))

    def close(self) -> None:
        pass


@contextmanager
def tws_session_paths(stream: DataFrame, gap_ms: int = 1_800_000) -> Iterator[DataFrame]:
    """(user_id, ts, event_id, event_type) watermarked stream -> closed
    per-user session path strings via ListState.  Context manager — see
    tws_timeout_flush."""
    with scoped_confs(stream.sparkSession, ROCKSDB_STATE):
        yield stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=SessionPathProcessor(gap_ms),
            outputStructType=SESSION_PATH_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )


BLOCKED_SCHEMA = StructType([StructField("doc_id", LongType())])


class BucketClaimProcessor(StatefulProcessor):
    """First-claimant-wins registry for one MinHash-LSH band bucket — the
    stateful core of streaming near-dup admission (VERDICT r10 #6).

    Keyed by (band_idx, band_key).  State is a single BIGINT ValueState:
    the smallest doc_id that has ever claimed this bucket.  Every arriving
    doc registers its claim regardless of its own admission outcome
    (a dropped doc's buckets still block later look-alikes, matching the
    batch oracle's min-over-ALL-docs ownership); a doc is emitted as
    BLOCKED in this bucket iff an earlier claimant with a smaller doc_id
    exists.  Within a micro-batch "earlier" is doc_id order (the batch is
    sorted before claims resolve); across micro-batches the owner is the
    MINIMUM doc_id seen so far (a later-arriving smaller id takes
    ownership for future comparisons but cannot retro-block the earlier
    claimant, so the blocked set only grows) — identical to the oracle's
    global-min ownership whenever the replay delivers docs in doc_id
    order (the staged single-file replay trivially does; any doc_id-
    ordered multi-batch replay too — pinned by
    tests/test_stream_dedup.py), which is the oracle-parity contract
    documented on the query.

    Scale: O(1) state (8 bytes) per OCCUPIED bucket, sharded across
    executors by the bucket key exchange; no pair materialization, no
    per-bucket membership lists — the emitted traffic is one row per
    blocked (doc, band), bounded by the dup rate.  No timers: admission
    is decided the moment a claim arrives (timeMode None).

    Must live at module level: workers unpickle the processor by
    reference, which runs ``_ensure_protobuf_runtime`` in the worker."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._owner = handle.getValueState("owner", "owner BIGINT")

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        ids = sorted(
            int(x) for p in rows for x in p["doc_id"].tolist()
        )
        owner = self._owner.get()[0] if self._owner.exists() else None
        eff = ids[0] if owner is None else min(owner, ids[0])
        self._owner.update((eff,))
        blocked = [i for i in ids if i > eff]
        if blocked:
            yield pd.DataFrame({"doc_id": pd.Series(blocked, dtype="int64")})

    def close(self) -> None:
        pass


@contextmanager
def tws_bucket_claims(bands: DataFrame) -> Iterator[DataFrame]:
    """(doc_id, band_idx, band_key) stream -> one row per BLOCKED claim
    (a doc whose bucket was already owned by a smaller/earlier doc_id).
    Context manager — see tws_timeout_flush."""
    with scoped_confs(bands.sparkSession, ROCKSDB_STATE):
        yield bands.groupBy("band_idx", "band_key").transformWithStateInPandas(
            statefulProcessor=BucketClaimProcessor(),
            outputStructType=BLOCKED_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )


@contextmanager
def tws_timeout_flush(stream: DataFrame, gap_ms: int = 3_600_000) -> Iterator[DataFrame]:
    """(user_id, ts, value) watermarked stream -> timer-flushed per-user
    rollups via transformWithStateInPandas (EventTime time mode).

    Context manager: the provider conf is read at query START, so the
    override must span the caller's ``.start()``/await — run the query
    inside the ``with`` block; the conf is restored on exit."""
    with scoped_confs(stream.sparkSession, ROCKSDB_STATE):
        yield stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TimeoutFlushProcessor(gap_ms),
            outputStructType=TIMEOUT_FLUSH_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )


@contextmanager
def tws_wordcount(tokens: DataFrame) -> Iterator[DataFrame]:
    """tokens(word) stream -> (word, running cnt) via
    transformWithStateInPandas.  Context manager — see tws_timeout_flush."""
    with scoped_confs(tokens.sparkSession, ROCKSDB_STATE):
        yield tokens.groupBy("word").transformWithStateInPandas(
            statefulProcessor=RunningCountProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
