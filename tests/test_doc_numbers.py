"""Docs must quote drill numbers FROM the artifact, never from memory.

ADVICE r11 (COVERAGE.md:22): SCALE.md and COVERAGE.md quoted 3.36 s for
the executor-kill drill while the committed artifact said 6.6 — the docs
froze whichever single run they were written against.  This guard parses
every doc line that quotes a kill-to-next-commit figure and asserts it
equals the artifact's published MEDIAN, so a re-run that shifts the
artifact fails the suite until the prose is re-synced.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]

#: a kill-to-next-commit quote: "kill-to-next-commit median 6.6 s" or
#: "6.6 s from kill to the next commit" (prose may wrap mid-phrase)
_QUOTE = re.compile(
    r"kill[- ]to[- ]next[- ]commit[^0-9]{0,40}(\d+(?:\.\d+)?)\s*s"
    r"|(\d+(?:\.\d+)?)\s*s\s*from\s*\n?\s*kill to the next commit",
    re.IGNORECASE,
)


def test_kill_drill_quotes_match_artifact():
    artifact = json.loads((REPO_ROOT / "EXECUTOR_KILL_r12.json").read_text())
    median = artifact["kill_to_next_commit_sec_median"]
    assert artifact["n_runs"] >= 3, "published number must be a real median"
    quoted = []
    for doc in ("SCALE.md", "COVERAGE.md"):
        text = (REPO_ROOT / doc).read_text()
        for m in _QUOTE.finditer(text):
            val = float(m.group(1) or m.group(2))
            quoted.append((doc, val))
    assert quoted, "docs no longer quote the drill — update this guard"
    offenders = [(d, v) for d, v in quoted if v != median]
    assert not offenders, (
        f"doc-quoted kill-to-next-commit seconds {offenders} != artifact "
        f"median {median} (EXECUTOR_KILL_r12.json) — re-sync the prose"
    )


#: "243 named queries (240 of them value-checked)" in README.md
_README_COUNTS = re.compile(r"(\d+) named queries \((\d+) of them value-checked\)")
#: "Totals: 243 declared queries — 240 oracle-checked, 3 deliberate
#: rows-only (`a`, `b`, `c` — ..." in COVERAGE.md
_COVERAGE_COUNTS = re.compile(
    r"Totals: (\d+) declared queries — (\d+) oracle-checked, (\d+) deliberate\s+"
    r"rows-only\s+\(([^—]*)—"
)


def test_query_counts_match_catalog():
    """The README and COVERAGE query totals come from the catalog: every
    declared query, the ones with an oracle, and the named rows-only rest."""
    from flink_wordcount_spark.plans import ORACLES, QUERIES

    rows_only = sorted(set(QUERIES) - set(ORACLES))
    readme = _README_COUNTS.findall((REPO_ROOT / "README.md").read_text())
    assert readme == [(str(len(QUERIES)), str(len(ORACLES)))]
    coverage = _COVERAGE_COUNTS.findall((REPO_ROOT / "COVERAGE.md").read_text())
    assert len(coverage) == 1, "COVERAGE.md totals line moved — update this guard"
    n_all, n_oracle, n_rows_only, names = coverage[0]
    assert (int(n_all), int(n_oracle), int(n_rows_only)) == (
        len(QUERIES),
        len(ORACLES),
        len(rows_only),
    )
    assert sorted(re.findall(r"`(\w+)`", names)) == rows_only


#: strings that only session.py (confs) or perfbench/ (host probes) may hold
_DECLARED_ONCE = (
    "conf.unset(",
    "RocksDBStateStoreProvider",
    "/proc/stat",
    "/proc/loadavg",
    "getloadavg",
)


def test_state_store_confs_and_host_probes_are_declared_once():
    """Conf overrides go through ``session.scoped_confs``, and the RocksDB
    state-store settings are declared only in ``session.py``: no other
    module unsets a conf by hand or names the provider class.  Host steal
    and load are read only by ``perfbench/probes.py``, which ``bench.py``
    and ``scripts/ab.py`` import.  perfbench/ keeps its own state-store
    copy on purpose (it imports nothing from the repo's tooling), and this
    guard names every string itself."""
    exempt = {
        Path("flink_wordcount_spark/session.py"),
        Path(__file__).resolve().relative_to(REPO_ROOT),
    }
    offenders = []
    for path in sorted(REPO_ROOT.rglob("*.py")):
        rel = path.relative_to(REPO_ROOT)
        if rel.parts[0] == "perfbench" or rel.parts[0].startswith(".") or rel in exempt:
            continue
        text = path.read_text()
        offenders += [(str(rel), s) for s in _DECLARED_ONCE if s in text]
    assert not offenders, f"use session.py or perfbench/probes.py for: {offenders}"
