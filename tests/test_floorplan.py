"""F1 floorplan semantics (reference `tests/test_floorist.py:107-151` and
`src/floorist/floorist.py:194,283-287`). The chunksize rule and the
missing-key failures apply when a dump runs, so parsed rows are run
through ``DumpExecutor.execute`` with the doubles of
``tests/test_executor.py``."""

from __future__ import annotations

import logging

import pytest

from floorist_spark.executor import (
    DEFAULT_CHUNKSIZE,
    FloorplanError,
    load_floorplan,
    parse_floorplan,
)
from tests.test_executor import FakeStorage, FlakyRunner, make_executor

YAML = """
- prefix: a/first
  query: SELECT 1 AS x
- prefix: a/second
  query: SELECT 2 AS y
  chunksize: 13
- prefix: a/third
  query: SELECT 3 AS z
  chunksize: 0
"""


def test_parse_preserves_order():
    rows = parse_floorplan(YAML)
    assert [r["prefix"] for r in rows] == ["a/first", "a/second", "a/third"]


def _chunksizes(rows):
    storage = FakeStorage()
    ex = make_executor(storage, FlakyRunner())
    for n, row in enumerate(rows, 1):
        assert ex.execute(row, n) is True
    return [w[2] for w in storage.writes]


def test_missing_chunksize_defaults_to_1000():
    # reference floorist.py:194: row.get('chunksize', 1000) or None
    assert _chunksizes(parse_floorplan(YAML))[0] == DEFAULT_CHUNKSIZE == 1000


def test_explicit_zero_chunksize_means_unchunked():
    assert _chunksizes(parse_floorplan(YAML))[2] is None


def test_explicit_chunksize_kept():
    assert _chunksizes(parse_floorplan(YAML))[1] == 13


def _assert_keyerror_before_query(yaml_text, caplog):
    # Not a parse error: the row parses and the KeyError surfaces when the
    # dump is specified, before any query runs, failing only that dump
    # (reference tests/test_floorist.py:190-198)
    (row,) = parse_floorplan(yaml_text)
    storage, runner = FakeStorage(), FlakyRunner()
    with caplog.at_level(logging.ERROR):
        assert make_executor(storage, runner).execute(row, 1) is False
    assert runner.calls == 0
    assert storage.writes == []
    assert any(
        r.exc_info and isinstance(r.exc_info[1], KeyError) for r in caplog.records
    )


def test_missing_prefix_raises_keyerror_at_spec_time(caplog):
    _assert_keyerror_before_query("- query: SELECT 1", caplog)


def test_missing_query_raises_keyerror_at_spec_time(caplog):
    _assert_keyerror_before_query("- prefix: a/b", caplog)


def test_non_list_floorplan_rejected():
    with pytest.raises(FloorplanError):
        parse_floorplan("prefix: a")


def test_empty_floorplan_is_empty_list():
    assert parse_floorplan("") == []


def test_load_floorplan_from_file(tmp_path):
    p = tmp_path / "plan.yaml"
    p.write_text(YAML)
    assert len(load_floorplan(str(p))) == 3
