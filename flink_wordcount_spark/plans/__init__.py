"""Declared query surface: every operator from SURVEY.md §2 as a named query.

Importing this package registers all queries into ``catalog.QUERIES`` /
``catalog.ORACLES`` (the driver contract in ``__spark_entry__.py`` re-exports
them).
"""

# Registration order == the driver's verification order, and the driver's
# verify budget truncates at ~50 queries per round.  Ordering policy:
#   1. queries whose plan or oracle was MODIFIED this round (explicit list —
#      a prior green row says nothing about edited code),
#   2. queries with no driver-verified row in any CORRECTNESS_r*.json,
#   3. everything else by STALENESS: ascending last-verified round, so the
#      back catalog rotates through the budget instead of starving forever.
# Staleness is computed from the CORRECTNESS_r*.json artifacts at import time
# (repo root); if none are readable we fall back to registration order.
import json
import re
from pathlib import Path

from . import (  # noqa: F401  (import for registration side effects)
    curation_q,
    decontam_q,
    dedup_q,
    similarity_q,
    streaming_q,
    sql_q,
    udf_q,
    scalar_q,
    events_q,
    textstats_q,
    multimodal_q,
    wordcount_q,
    relational_q,
    aggregates_q,
    windows_q,
    setops_q,
)
from . import catalog as _catalog

# Queries whose Spark plan or oracle SQL changed in the CURRENT round.  These
# jump the queue regardless of prior green rows (ADVICE r03: the round-3
# session-window oracle break shipped unverified precisely because a stale
# green row pinned it behind the budget).  Reset this list each round.
_MODIFIED_THIS_ROUND: list[str] = []

# Queries to verify THIS round ahead of the staleness rotation even though
# their code may be unchanged THIS round.  The MinHash-LSH candidate pair
# lands in one head: the value-checked twin and the rows-only production
# query, so the value check and the rows-only check share one artifact.
_PIN_FRONT_THIS_ROUND: list[str] = [
    "lsh_minhash_candidates_md5",
    "lsh_minhash_candidates",
]


def _last_verified_round() -> dict[str, int]:
    """Map query name -> latest round whose CORRECTNESS artifact visited it.

    A visit counts whether value-checked or rows-only: either means the
    driver spent budget on it that round.  Errors (non-null ``err`` other
    than the documented ``no_oracle``) do NOT count as verified.
    """
    last: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    try:
        artifacts = sorted(root.glob("CORRECTNESS_r*.json"))
    except OSError:
        return last
    for path in artifacts:
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            ok = row.get("hash_match") or (
                err == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _reorder() -> None:
    last = _last_verified_round()
    names = list(_catalog.QUERIES)
    modified = [n for n in _MODIFIED_THIS_ROUND if n in _catalog.QUERIES]
    pinned = [
        n
        for n in _PIN_FRONT_THIS_ROUND
        if n in _catalog.QUERIES and n not in modified
    ]
    head = modified + pinned
    rest = [n for n in names if n not in head]
    # Stable sort: never-verified (round 0) first, then ascending staleness.
    rest.sort(key=lambda n: last.get(n, 0))
    order = head + rest
    _catalog.QUERIES = {n: _catalog.QUERIES[n] for n in order}
    _catalog.ORACLES = {
        n: _catalog.ORACLES[n] for n in order if n in _catalog.ORACLES
    }


_reorder()
ORACLES = _catalog.ORACLES
QUERIES = _catalog.QUERIES
