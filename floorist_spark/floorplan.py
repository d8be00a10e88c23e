"""Floorplan model — the user-facing plan format (SURVEY §2 F1).

A floorplan is a YAML list of dump specs::

    - prefix: reports/cities
      query: >-
        SELECT name AS city_name, zip, country FROM cities
      chunksize: 100

Reference behavior reproduced (citations into /root/reference):

* the file is parsed with ``yaml.safe_load`` and iterated in order
  (`src/floorist/floorist.py:283-287`);
* ``chunksize`` is optional; a MISSING key defaults to 1000 rows/file,
  while an explicitly falsy value (0/None) means "unchunked" — a single
  output file (`src/floorist/floorist.py:194`:
  ``row.get('chunksize', 1000) or None``). The executor applies this rule
  when the dump runs (``DumpExecutor.execute``);
* a row missing ``prefix`` or ``query`` is not a parse error: it surfaces
  when the dump executes, fails that dump only, and later dumps still run
  (`src/floorist/floorist.py:186-190`, `tests/test_floorist.py:190-198`).
"""

from __future__ import annotations

from typing import IO, Any

import yaml

#: Reference default rows-per-output-file (`src/floorist/floorist.py:194`).
DEFAULT_CHUNKSIZE = 1000


class FloorplanError(ValueError):
    """Raised when the floorplan document is not a YAML list of mappings."""


def parse_floorplan(stream: str | IO[str]) -> list[dict[str, Any]]:
    """YAML text -> ordered list of raw rows. Rows keep missing keys so the
    executor can reproduce per-dump KeyError semantics."""
    data = yaml.safe_load(stream)
    if data is None:
        return []
    if not isinstance(data, list):
        raise FloorplanError(f"floorplan must be a YAML list, got {type(data).__name__}")
    for i, row in enumerate(data):
        if not isinstance(row, dict):
            raise FloorplanError(f"floorplan row {i} must be a mapping, got {type(row).__name__}")
    return data


def load_floorplan(path: str) -> list[dict[str, Any]]:
    """Load floorplan rows from a file path (F1)."""
    with open(path) as fh:
        return parse_floorplan(fh)
