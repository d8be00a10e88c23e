"""Print the next gate-rotation window for ``operators/catalog.py``.

Usage, from the root of the repository::

    python tools/gate_window.py

The rotation round is the newest committed ``CORRECTNESS_r*.json``. Every
entry's last driver-green round comes from the artifacts before it, by the
derivation ``tests/test_gate_rotation.py`` checks the catalog against. The
window is the ``WINDOW`` stalest entries. Entries strictly staler than the
boundary round all go in; the free slots are filled from the ties at the
boundary, thinnest family in the window first, lexicographic within a
family. The output is a ``ROTATION_ROUND``/``GATE_PRIORITY`` block to paste
into the catalog in place of the old one.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_gate_rotation import MAX_STALENESS, _gate_history, _last_green  # noqa: E402

#: Slots of the window: the gated prefix holds 50, and one goes to the
#: round-robin head (tests/test_llm_operators.py enforces the cap).
WINDOW = 49


def family(name: str) -> str:
    return name[0]


def window(last: dict[str, int], size: int = WINDOW) -> list[str]:
    """Stalest-first window with the family-balancing tie-break, ordered by
    last green round, then name."""
    stalest = sorted(last, key=lambda n: (last[n], n))
    boundary = last[stalest[size - 1]]
    picked = [n for n in stalest if last[n] < boundary]
    ties = [n for n in stalest if last[n] == boundary]
    counts = Counter(family(n) for n in picked)
    while len(picked) < size:
        fams = {family(n) for n in ties}
        thinnest = min(fams, key=lambda f: (counts[f], f))
        pick = next(n for n in ties if family(n) == thinnest)
        ties.remove(pick)
        picked.append(pick)
        counts[thinnest] += 1
    return sorted(picked, key=lambda n: (last[n], n))


def main() -> int:
    history = _gate_history()
    rnd = max(history)
    last = _last_green(history, rnd)
    picked = window(last)
    inside = set(picked)
    outside = [r for n, r in last.items() if n not in inside]
    print(f"ROTATION_ROUND = {rnd}")
    print()
    print("GATE_PRIORITY = [")
    cohort = None
    for name in picked:
        if last[name] != cohort:
            cohort = last[name]
            n_cohort = sum(1 for r in last.values() if r == cohort)
            n_in = sum(1 for p in picked if last[p] == cohort)
            print(f"    # -- last green at the r{cohort} gate ({n_in} of {n_cohort}) --")
        print(f'    "{name}",')
    print("]")
    counts = Counter(family(n) for n in picked)
    print(f"# families in the window: {dict(sorted(counts.items()))}")
    staleness = rnd - min(outside)
    print(f"# max staleness outside the window: {staleness} (bound {MAX_STALENESS})")
    return 0 if staleness <= MAX_STALENESS else 1


if __name__ == "__main__":
    sys.exit(main())
