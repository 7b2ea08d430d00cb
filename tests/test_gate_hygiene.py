"""Gate bookkeeping as an enforced invariant, not comments.

The driver certifies only the FIRST ``GATE_SIZE`` registry entries per
round. ``queries()`` in ``__spark_entry__.py`` leads with the
hand-listed ``_PRIORITY`` names, then fills the gate stalest stamp
first. These tests pin that rule and fail the build when a
never-certified entry sits outside the gate.

No SparkSession needed: pure registry + JSON bookkeeping.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from sparkobs import queries as Q

    return entrymod, Q


def test_priority_fits_gate_window():
    entrymod, _ = _registry()
    assert len(entrymod._PRIORITY) <= entrymod.GATE_SIZE, (
        f"_PRIORITY holds {len(entrymod._PRIORITY)} names but the driver "
        f"gate checks only the first {entrymod.GATE_SIZE} — the overflow "
        "is silently uncertified this round"
    )


def test_priority_names_exist_in_registry():
    entrymod, Q = _registry()
    ghosts = [n for n in entrymod._PRIORITY if n not in Q.SPARK_QUERIES]
    assert not ghosts, f"_PRIORITY names not in the registry: {ghosts}"


def test_no_uncertified_entry_left_outside_the_gate():
    """Every registry entry that has never been driver-certified green
    must sit inside the current gate window (so this round certifies
    it) — debt may never silently persist past the round that can
    retire it. Entries without an oracle are held to the same bar:
    the driver still records a rows-only row for them."""
    entrymod, Q = _registry()
    green = set(entrymod._last_certified(REPO))
    gate = set(list(entrymod.queries())[: entrymod.GATE_SIZE])
    debt = [
        n
        for n in Q.SPARK_QUERIES
        if n not in green and n not in gate
    ]
    assert not debt, (
        "registry entries never certified by any driver round AND "
        f"outside the current gate window: {debt} — add them to "
        "_PRIORITY (or drop them from the registry)"
    )


def _write_round(root, rnd: int, rows: dict) -> None:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as fh:
        json.dump(rows, fh)


def test_gate_order_is_hand_list_then_stalest(tmp_path, monkeypatch):
    """The ordering rule over synthetic CORRECTNESS files: hand-listed
    names, then never-certified names (definition order), then the
    oldest stamps with ties broken by name; the gate holds at most
    GATE_SIZE registry names and queries() returns every registry
    entry exactly once."""
    entrymod, Q = _registry()
    # defined in DESCENDING name order, so definition order and name
    # order disagree and the test can tell them apart
    registry = {f"q{i:02d}": object() for i in reversed(range(70))}
    monkeypatch.setattr(Q, "SPARK_QUERIES", registry)
    monkeypatch.setattr(entrymod, "_PRIORITY", ["q05", "gone", "q60"])
    monkeypatch.setattr(entrymod, "_REPO_ROOT", str(tmp_path))

    # no CORRECTNESS files: hand list, then definition order
    assert list(entrymod.queries()) == ["q05", "q60"] + [
        n for n in registry if n not in ("q05", "q60")
    ]

    green = {"err": None, "rows_match": True, "hash_match": True}
    r1 = {n: green for n in registry if n not in ("q10", "q40")}
    r1["q20"] = {"err": "boom", "rows_match": None}  # failed: stamp 0
    _write_round(tmp_path, 1, r1)
    r2 = {f"q{i:02d}": green for i in range(30) if i not in (10, 20)}
    r2["q31"] = {"err": "no_oracle", "spark_rows": 5}  # rows-only counts
    r2["q07"] = {"err": None, "rows_match": True, "hash_match": False}
    _write_round(tmp_path, 2, r2)

    head, never = ["q05", "q60"], ["q40", "q20", "q10"]
    stamp2 = sorted(set(r2) - {"q05", "q07"})
    stamp1 = sorted(set(registry) - set(head) - set(never) - set(stamp2))
    expected = head + never + stamp1 + stamp2
    names = list(entrymod.queries())
    gate = names[: entrymod.GATE_SIZE]
    assert gate == expected[: entrymod.GATE_SIZE]
    assert len(gate) == entrymod.GATE_SIZE
    assert set(gate) <= set(registry)
    assert sorted(names) == sorted(registry) and len(names) == len(registry)
    # past the gate: definition order
    assert names[entrymod.GATE_SIZE:] == [n for n in registry if n not in gate]
