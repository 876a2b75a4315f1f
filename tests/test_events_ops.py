"""Contracts of the event-analytics queries (plans/events_q.py) beyond the
oracle parity check: a rewritten plan must equal its definitional form on
inputs the fixture does not contain."""

from __future__ import annotations

from datetime import date, datetime

from flink_wordcount_spark.plans import QUERIES


def _brute_force_wau(user_days: list[tuple[int | None, date]]) -> dict[str, int]:
    """Reference trailing-7d active users: literal double loop."""
    days = sorted({d for _, d in user_days})
    out = {}
    for d in days:
        active = {
            u
            for u, ud in user_days
            if u is not None and (d - ud).days in range(0, 7)
        }
        out[d.strftime("%Y-%m-%d")] = len(active)
    return out


def test_rolling_active_users_equals_brute_force(spark, tmp_path):
    """The interval-delta rollup == the definitional per-day distinct
    count, exercised on a synthetic feed that hits every delta edge case:
    gaps > 7d (disjoint pieces), consecutive days (piece merging, +1/-1
    cancellation on the same grid day), duplicate (user, day) events,
    multi-user overlap, a day covered ONLY from an earlier start (no
    delta row of its own without the observed-marker), and a NULL user
    (its day must appear in the grid but count zero users)."""
    rows = [
        # user 1: consecutive run + far gap (merged piece, then new piece)
        (1, "2031-01-01 08:00:00"),
        (1, "2031-01-02 09:00:00"),
        (1, "2031-01-20 10:00:00"),
        # user 2: same-day duplicates + a day 3 later (overlapping pieces)
        (2, "2031-01-02 01:00:00"),
        (2, "2031-01-02 23:00:00"),
        (2, "2031-01-05 12:00:00"),
        # user 3: single day far out; day 2031-01-26 is covered only by
        # user 1's Jan 20 start (tests the observed-0-delta marker path)
        (3, "2031-01-26 00:00:00"),
        # null user: contributes an observed day, zero active users
        (None, "2031-02-15 00:00:00"),
    ]
    df = spark.createDataFrame(
        [(i, u, datetime.fromisoformat(ts), 1.0, "click") for i, (u, ts) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, value double, event_type string",
    )
    d = tmp_path / "events.parquet"
    df.write.mode("overwrite").parquet(str(d.parent / "events.parquet"))

    got = {
        r["day"]: r["active_7d"]
        for r in QUERIES["ev_rolling_active_users"](
            spark, str(tmp_path)
        ).collect()
    }
    want = _brute_force_wau(
        [(u, datetime.fromisoformat(ts).date()) for u, ts in rows]
    )
    assert got == want
    assert got["2031-02-15"] == 0  # null-user day observed, nobody active
