"""Rotation-ledger self-check (verdict r11 finding: four queries were born,
benched, and then forgotten by the rotation bookkeeping — zero driver
CORRECTNESS rows in any round and no plan to ever get one).

Contract enforced here: every registered query must EITHER hold a driver
evidence row in some committed ``CORRECTNESS_r*.json``, sit in the gated
window, OR be named in ROADMAP.md's "Driver-window rotation candidates"
open item, so a query can never again fall out of the ledger silently.
"""

from __future__ import annotations

import inspect
import json
import re
from pathlib import Path

from fluss_iceberg_spark import registry

REPO = Path(__file__).resolve().parent.parent


def _driver_evidence() -> set[str]:
    names: set[str] = set()
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        names.update(json.loads(f.read_text()).keys())
    return names


def _rotation_todo_names() -> set[str]:
    """Query names in ROADMAP.md's "Driver-window rotation candidates"
    item: the backticked names from its first line up to the next list
    item, heading or blank line."""
    text = (REPO / "ROADMAP.md").read_text()
    m = re.search(
        r"^- \*\*Driver-window rotation candidates.*?(?=\n(?:- |#|\n)|\Z)",
        text, re.DOTALL | re.MULTILINE,
    )
    assert m, "ROADMAP.md must keep a 'Driver-window rotation candidates' item"
    return set(re.findall(r"`([a-z][a-z0-9]*(?:_[a-z0-9]+)+)`", m.group(0)))


def test_every_registered_query_is_ledgered():
    registry.load_all()
    evidence = _driver_evidence()
    todo = _rotation_todo_names()
    # being inside the gated window IS a plan: the driver produces the
    # first evidence row for window members on its next run
    window = set(registry._PRIORITY)
    orphans = [
        n
        for n in registry.QUERIES
        if n not in evidence and n not in todo and n not in window
    ]
    assert not orphans, (
        "queries with zero driver CORRECTNESS evidence and no rotation plan "
        f"(name them in ROADMAP.md's rotation candidates): {sorted(orphans)}"
    )


def test_rotation_todo_names_are_registered():
    """A TODO entry that names a nonexistent query is a stale plan."""
    registry.load_all()
    todo = _rotation_todo_names()
    # the TODO block contains prose; only enforce tokens that LOOK like
    # query names (workload-prefixed) to avoid false hits on prose words
    prefixes = (
        "ref_", "tpch_", "agg_", "set_", "events_", "lake_", "stream_",
        "text_", "dedup_", "ann_", "multimodal_", "graph_", "engine_",
        "export_", "fuzzy_", "window_",
    )
    stale = [
        n
        for n in todo
        if n.startswith(prefixes)
        and n not in registry.QUERIES
        and not n.startswith("tests_")
    ]
    assert not stale, f"rotation TODO names unregistered queries: {sorted(stale)}"


def test_driver_window_prefers_zero_evidence_queries():
    """Anything named in the rotation TODO must NOT already be in the
    gated window (it would be a contradiction), and everything in the
    window that has no prior evidence must have been rotated in this
    round on purpose (i.e. the window is where evidence gets made)."""
    registry.load_all()
    todo = _rotation_todo_names()
    in_window = set(registry._PRIORITY)
    contradiction = sorted(todo & in_window)
    assert not contradiction, (
        f"rotation TODO names queries already gated in-window: {contradiction}"
    )
