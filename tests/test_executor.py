"""F7/F8/F10 retry + isolation semantics, mocked (mirrors the reference's
standalone suite, `/root/reference/tests/test_floorist_standalone.py:13-267`)."""

from __future__ import annotations

from datetime import date

import pytest

from floorist_spark.executor import DumpExecutor, is_retryable
from floorist_spark.floorplan import DEFAULT_CHUNKSIZE, parse_floorplan


class FakeStorage:
    """Driver-side double: records sink calls, optionally fails them."""

    def __init__(self, cleanup_error: Exception | None = None):
        self.base_uri = "file:///fake"
        self.writes: list[tuple] = []
        self.cleanups: list[str] = []
        self.cleanup_error = cleanup_error

    def make_path(self, prefix, run_date=None):
        d = run_date or date(2026, 1, 2)
        path = f"{prefix}/year_created={d.year}/month_created={d.month}/day_created={d.day}"
        return path, f"{self.base_uri}/{path}"

    def write_parquet(self, df, target, chunksize=None, dump_count=0):
        self.writes.append((df, target, chunksize))
        return 1

    def cleanup(self, target):
        if self.cleanup_error:
            raise self.cleanup_error
        self.cleanups.append(target)


class FlakyRunner:
    """Raises the queued exceptions once each, then returns a sentinel df."""

    def __init__(self, errors=()):
        self.errors = list(errors)
        self.calls = 0

    def __call__(self, query):
        self.calls += 1
        if self.errors:
            raise self.errors.pop(0)
        return f"df({query})"


def make_executor(storage, runner, sleeps=None):
    return DumpExecutor(
        storage,
        runner,
        run_date=date(2026, 1, 2),
        sleep=(sleeps.append if sleeps is not None else lambda s: None),
    )


ROW = {"prefix": "data/x", "query": "SELECT 1 AS a"}


# -- is_retryable (F8) ---------------------------------------------------------

@pytest.mark.parametrize(
    "message",
    [
        "ERROR: SerializationFailure: could not serialize access",
        "canceling statement due to conflict with recovery",
        "PendingRollbackError: transaction rolled back",
        "This Session's transaction has been rolled back: invalid transaction",
    ],
)
def test_retryable_patterns(message):
    assert is_retryable(Exception(message))


def test_non_retryable():
    assert not is_retryable(Exception("syntax error at or near"))


def test_backoff_schedule_is_5_then_10():
    # pinned by reference tests/test_floorist_standalone.py:219-222
    runner = FlakyRunner([Exception("SerializationFailure")] * 2)
    sleeps: list[float] = []
    assert make_executor(FakeStorage(), runner, sleeps).execute(ROW, 1) is True
    assert runner.calls == 3
    assert sleeps == [5, 10]


def test_evaluate_transitions():
    # retry, retry, exhausted: three attempts, then the dump fails
    runner = FlakyRunner([Exception("SerializationFailure")] * 3)
    sleeps: list[float] = []
    assert make_executor(FakeStorage(), runner, sleeps).execute(ROW, 1) is False
    assert runner.calls == 3
    assert sleeps == [5, 10]
    # a non-retryable error fails at once
    runner = FlakyRunner([Exception("boom")])
    sleeps = []
    assert make_executor(FakeStorage(), runner, sleeps).execute(ROW, 1) is False
    assert runner.calls == 1
    assert sleeps == []


@pytest.mark.parametrize(
    "state, message, retry",
    [
        ("40001", "could not serialize access", True),
        ("40P01", "deadlock detected", True),
        ("57P01", "terminating connection", True),
        ("08006", "connection failure", True),
        ("08P01", "protocol violation", False),  # class 08, but not a lost connection
        ("57P04", "terminating connection due to conflict with recovery", False),
        ("42P01", "SerializationFailure", False),  # the SQLSTATE wins
        ("22003", "numeric field overflow", False),
        (None, "SerializationFailure", True),  # no SQLSTATE: the patterns
        (None, "could not serialize access", False),
    ],
)
def test_sqlstate_in_java_cause_chain_decides(spark, state, message, retry):
    # the shape a JDBC task failure reaches Python in: a Py4JJavaError
    # whose SparkException holds the driver's SQLException as its cause
    jvm = spark._jvm
    cause = jvm.java.sql.SQLException("pgwire: " + message, state)

    class Py4JLike(Exception):
        java_exception = jvm.org.apache.spark.SparkException("Job aborted", cause)

    assert is_retryable(Py4JLike(message)) is retry


# -- DumpExecutor (F10) ----------------------------------------------------------

def test_success_path_writes_once():
    storage, runner = FakeStorage(), FlakyRunner()
    assert make_executor(storage, runner).execute(ROW, 1) is True
    assert len(storage.writes) == 1
    assert storage.cleanups == []  # no retry -> no cleanup


def test_missing_prefix_fails_dump_without_raising():
    # not a parse error: the row parses, fails only its own dump, and the
    # next dump still runs (reference tests/test_floorist.py:190-198)
    storage, runner = FakeStorage(), FlakyRunner()
    ex = make_executor(storage, runner)
    (row,) = parse_floorplan("- query: SELECT 1")
    assert ex.execute(row, 1) is False
    assert storage.writes == []
    assert ex.execute(ROW, 2) is True
    assert len(storage.writes) == 1


def test_missing_query_fails_dump_without_raising():
    storage, runner = FakeStorage(), FlakyRunner()
    ex = make_executor(storage, runner)
    (row,) = parse_floorplan("- prefix: a/b")
    assert ex.execute(row, 1) is False
    assert runner.calls == 0
    assert ex.execute(ROW, 2) is True
    assert len(storage.writes) == 1


def test_retryable_error_cleans_up_and_retries():
    # reference tests/test_floorist_standalone.py:162-200: chunks written
    # before a mid-stream failure are deleted before the retry
    storage = FakeStorage()
    runner = FlakyRunner([Exception("SerializationFailure mid-stream")])
    sleeps: list[float] = []
    assert make_executor(storage, runner, sleeps).execute(ROW, 1) is True
    assert runner.calls == 2
    assert len(storage.cleanups) == 1
    assert sleeps == [5]


def test_exhausted_retries_fail_with_full_backoff():
    storage = FakeStorage()
    runner = FlakyRunner([Exception("SerializationFailure")] * 3)
    sleeps: list[float] = []
    assert make_executor(storage, runner, sleeps).execute(ROW, 1) is False
    assert runner.calls == 3
    assert sleeps == [5, 10]  # reference backoff schedule
    assert len(storage.cleanups) == 2


def test_non_retryable_error_fails_immediately():
    storage = FakeStorage()
    runner = FlakyRunner([Exception("column does not exist")])
    sleeps: list[float] = []
    assert make_executor(storage, runner, sleeps).execute(ROW, 1) is False
    assert runner.calls == 1
    assert sleeps == []


def test_cleanup_failure_aborts_dump():
    # reference floorist.py:209-213 / standalone.py:92-113: if cleanup
    # fails, the dump is aborted (no second query attempt)
    storage = FakeStorage(cleanup_error=RuntimeError("s3 down"))
    runner = FlakyRunner([Exception("SerializationFailure")])
    assert make_executor(storage, runner).execute(ROW, 1) is False
    assert runner.calls == 1


def test_chunksize_missing_defaults_to_1000():
    # reference floorist.py:194: row.get('chunksize', 1000) or None
    storage, runner = FakeStorage(), FlakyRunner()
    make_executor(storage, runner).execute(ROW, 1)
    assert storage.writes[0][2] == DEFAULT_CHUNKSIZE == 1000


def test_chunksize_zero_becomes_unchunked():
    storage, runner = FakeStorage(), FlakyRunner()
    ex = make_executor(storage, runner)
    ex.execute({**ROW, "chunksize": 0}, 1)
    ex.execute({**ROW, "chunksize": None}, 2)
    assert [w[2] for w in storage.writes] == [None, None]


@pytest.mark.parametrize("chunksize", [-5, "13", 2.5, True])
def test_malformed_chunksize_fails_dump_before_query(chunksize, caplog):
    # a value that is neither falsy nor a positive int fails its own dump
    # before the query runs; the next dump still runs
    storage, runner = FakeStorage(), FlakyRunner()
    ex = make_executor(storage, runner)
    assert ex.execute({**ROW, "chunksize": chunksize}, 1) is False
    assert runner.calls == 0
    assert storage.writes == []
    assert repr(chunksize) in caplog.text
    assert ex.execute({**ROW, "chunksize": 7}, 2) is True
    assert [w[2] for w in storage.writes] == [7]
