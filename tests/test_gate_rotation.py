"""Machine-checked gate-rotation invariants (round-8 verdict task 2).

The grading driver gates only a ~50-entry prefix of ``queries()`` per
round, so external validation of the 224-entry catalog is a rotation
problem. ``GATE_PRIORITY`` used to be curated by hand with a prose
staleness claim; these tests make the claim mechanical: the last
driver-green round of every entry is RE-DERIVED here from the committed
``CORRECTNESS_r0*.json`` artifacts (the driver's own gate records, not a
builder-maintained ledger that could drift), and the priority list must
be exactly a stalest-first window under that ledger.

Rotation protocol for future rounds: bump ``ROTATION_ROUND`` in
``catalog.py`` and refill ``GATE_PRIORITY`` with the stalest <=49
entries (``python tools/gate_window.py`` prints both); these tests fail
loudly if either half is forgotten or the refill is not actually
stalest-first.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: After the ROTATION_ROUND gate runs green, no entry's last external
#: green may trail it by more than this many rounds. 224 entries / ~49
#: slots is a ~4.6-round full cycle, so 5 is the tightest integral bound
#: a perfect rotation can promise.
MAX_STALENESS = 5


def _gate_history() -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            out[int(m.group(1))] = json.load(open(path))
    return out


def _last_green(history: dict[int, dict], before_round: int) -> dict[str, int]:
    """Entry -> newest round < before_round whose driver gate recorded it
    green (hash green, or rows-only green for oracle-less entries).
    Entries never gated map to 0 — maximally stale by construction."""
    from floorist_spark.operators.catalog import all_oracles, all_queries

    oracles = all_oracles()
    last = dict.fromkeys(all_queries(), 0)
    for rnd, rows in history.items():
        if rnd >= before_round:
            continue
        for name, rec in rows.items():
            if name not in last or rec.get("err") is not None:
                continue
            green = rec.get("hash_match") or (
                name not in oracles and rec.get("rows_match")
            )
            if green:
                last[name] = max(last[name], rnd)
    return last


def test_rotation_round_is_current():
    """ROTATION_ROUND must cover every committed gate artifact: once the
    round-N gate record lands in the tree, a round-(N+1) builder has to
    bump the constant and re-derive the window."""
    from floorist_spark.operators.catalog import ROTATION_ROUND

    newest = max(_gate_history())
    assert ROTATION_ROUND >= newest, (
        f"CORRECTNESS_r{newest:02d}.json is committed but ROTATION_ROUND "
        f"is still {ROTATION_ROUND}; bump it and refill GATE_PRIORITY "
        "with the stalest entries"
    )


def test_gate_priority_is_stalest_first_window():
    """GATE_PRIORITY must contain exactly the stalest entries under the
    artifact-derived ledger: nothing left outside the window may be
    staler than anything inside it (ties at the boundary are free)."""
    from floorist_spark.operators.catalog import (
        GATE_PRIORITY,
        ROTATION_ROUND,
        all_queries,
    )

    last = _last_green(_gate_history(), ROTATION_ROUND)
    inside = {n: last[n] for n in GATE_PRIORITY}
    outside = {n: r for n, r in last.items() if n not in inside}
    assert len(inside) == len(GATE_PRIORITY), "unknown name in GATE_PRIORITY"
    worst_in = max(inside.values())
    best_out = min(outside.values())
    assert worst_in <= best_out, (
        f"not stalest-first: {[n for n, r in inside.items() if r == worst_in]}"
        f" (last green r{worst_in}) sit in the window while "
        f"{[n for n, r in outside.items() if r == best_out]} "
        f"(last green r{best_out}) are left out"
    )


def test_max_staleness_claim():
    """The headline claim the catalog comment makes: assuming the
    ROTATION_ROUND gate runs this window green, no catalog entry's last
    external green is older than MAX_STALENESS rounds."""
    from floorist_spark.operators.catalog import (
        GATE_PRIORITY,
        ROTATION_ROUND,
        all_queries,
    )

    last = _last_green(_gate_history(), ROTATION_ROUND)
    stale = {
        n: r
        for n, r in last.items()
        if n not in set(GATE_PRIORITY) and ROTATION_ROUND - r > MAX_STALENESS
    }
    assert not stale, (
        f"entries outside the window staler than {MAX_STALENESS} rounds "
        f"at round {ROTATION_ROUND}: {stale}"
    )
