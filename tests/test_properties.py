"""Property-based tests (hypothesis) for the pure-Python engine layers:
floorplan parsing, the retry rule, path building, and the MinHash affine
hash family. No SparkSession — these run in milliseconds.
"""

from __future__ import annotations

from datetime import date

import yaml
from hypothesis import given
from hypothesis import strategies as st

from floorist_spark.executor import (
    DEFAULT_CHUNKSIZE,
    MAX_RETRIES,
    RETRY_DELAY,
    RETRYABLE_ERROR_PATTERNS,
    parse_floorplan,
)
from floorist_spark.functions.textfrag import MERSENNE31, _affine_coef
from tests.test_executor import FakeStorage, FlakyRunner, make_executor

# printable-ASCII text: the roundtrip property targets floorplan
# semantics (order, keys, chunksize), not YAML's representation of
# control characters / surrogates
_txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=40
)
_row = st.fixed_dictionaries(
    {},
    optional={
        "prefix": _txt,
        "query": _txt,
        "chunksize": st.one_of(st.none(), st.integers(min_value=0, max_value=10**6)),
    },
)


@given(st.lists(_row, max_size=10))
def test_floorplan_roundtrip_preserves_order_and_keys(rows):
    parsed = parse_floorplan(yaml.safe_dump(rows))
    assert parsed == rows


@given(_row)
def test_spec_chunksize_semantics(row):
    """Missing prefix/query → that dump fails; missing chunksize → 1000;
    explicit 0/None → unchunked (None); positive passes through. Mirrors
    reference row.get('chunksize', 1000) or None (floorist.py:194), run
    through DumpExecutor.execute."""
    storage = FakeStorage()
    ok = make_executor(storage, FlakyRunner()).execute(row, 1)
    if "prefix" not in row or "query" not in row:
        assert ok is False
        assert storage.writes == []
        return
    assert ok is True
    raw = row.get("chunksize", "MISSING")
    if raw == "MISSING":
        assert storage.writes[0][2] == DEFAULT_CHUNKSIZE
    elif not raw:
        assert storage.writes[0][2] is None
    else:
        assert storage.writes[0][2] == raw


def _run(errors) -> tuple[bool, int, list[float]]:
    """One dump through DumpExecutor.execute whose query raises ``errors``
    in turn: (ok, query attempts, backoff sleeps)."""
    runner, sleeps = FlakyRunner(errors), []
    ok = make_executor(FakeStorage(), runner, sleeps).execute({"prefix": "p", "query": "q"}, 1)
    return ok, runner.calls, sleeps


@given(st.integers(min_value=0, max_value=MAX_RETRIES))
def test_backoff_schedule(failures):
    ok, calls, sleeps = _run([Exception("SerializationFailure")] * failures)
    assert ok is (failures < MAX_RETRIES)
    assert calls == min(failures + 1, MAX_RETRIES)
    assert sleeps == [RETRY_DELAY * 2**a for a in range(min(failures, MAX_RETRIES - 1))]


@given(st.text(max_size=80))
def test_non_matching_errors_never_retry(msg):
    if any(p in msg for p in RETRYABLE_ERROR_PATTERNS):
        return
    assert _run([Exception(msg)]) == (False, 1, [])


@given(st.sampled_from(RETRYABLE_ERROR_PATTERNS), st.text(max_size=20))
def test_matching_errors_retry_then_exhaust(pattern, padding):
    ex = Exception(padding + pattern + padding)
    assert _run([ex] * MAX_RETRIES) == (False, MAX_RETRIES, [5, 10])


@given(st.dates(min_value=date(2000, 1, 1), max_value=date(2099, 12, 31)))
def test_make_path_unpadded(d):
    """F4: month/day render unpadded (reference %-m/%-d) for every date."""
    path = f"p/year_created={d.year}/month_created={d.month}/day_created={d.day}"
    assert f"month_created={d.month:02d}" not in path or d.month >= 10
    assert path.split("month_created=")[1].split("/")[0] == str(d.month)


@given(st.integers(min_value=0, max_value=255))
def test_affine_coefficients_valid(i):
    """Every hash function in the family is a proper affine map mod the
    Mersenne prime: a nonzero (bijective), both coefficients in range."""
    a, b = _affine_coef(i)
    assert 0 < a < MERSENNE31
    assert 0 <= b < MERSENNE31


@given(
    st.integers(min_value=0, max_value=63),
    st.integers(min_value=0, max_value=63),
)
def test_affine_family_distinct(i, j):
    if i != j:
        assert _affine_coef(i) != _affine_coef(j)
