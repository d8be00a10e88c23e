"""Floorplan, retry rule + per-dump executor (SURVEY §2 F1, F7, F8, F9, F10).

A floorplan is a YAML list of dump specs::

    - prefix: reports/cities
      query: >-
        SELECT name AS city_name, zip, country FROM cities
      chunksize: 100

Reference semantics (`/root/reference/src/floorist/floorist.py`):

* **F1 floorplan** — the file is parsed with ``yaml.safe_load`` and
  iterated in order (`floorist.py:283-287`); ``parse_floorplan`` only
  checks that it is a list of mappings, and ``execute`` applies the row
  rules below.
* **F8 retry** — one rule, ``is_retryable``: a transient database error is
  retried with backoff ``RETRY_DELAY * 2**attempt`` (5s, 10s), 3 attempts
  total (`floorist.py:21-23,31-63`, pinned by
  `tests/test_floorist_standalone.py:219-222`).
* **F7 cleanup-before-retry** — every retry first deletes the target prefix
  so re-running the full query cannot duplicate rows; if the cleanup itself
  fails the dump is aborted (`floorist.py:199-213`,
  `tests/test_floorist_standalone.py:92-113,162-200`).
* **F9 one snapshot per dump** — the reference commits after each dump
  and rolls back on error. Here nothing needs either: native mode scans
  Parquet, which is snapshot-free, and a JDBC read auto-commits over the
  one connection ``sources/jdbc.py`` pins per dump.
* **F10 execute(row, dump_count)** — missing ``prefix``/``query`` is not a
  parse error: it fails that dump only and later dumps still run
  (`floorist.py:186-197`, `tests/test_floorist.py:190-198`). A MISSING
  ``chunksize`` defaults to 1000 rows/file, while an explicitly falsy one
  (0/None) means "unchunked", a single output file (`floorist.py:194`:
  ``row.get('chunksize', 1000) or None``); any other value that is not a
  positive int fails its dump before the query runs. The per-dump sink
  lines (F14, `floorist.py:165-178`) follow the file count
  ``write_parquet`` returns.

Design deviation, documented: the reference matches message patterns on
SQLAlchemy errors (`floorist.py:221-224`). Through Spark's JDBC source a
driver error arrives Py4J-wrapped, matching no pattern, with the driver's
``java.sql.SQLException`` in its Java cause chain. So its SQLSTATE decides
first, and only an error without one falls back to the reference's
patterns. A SQLSTATE outside ``RETRYABLE_SQLSTATES`` fails at once even if
its message matches: 57P04 (database dropped), whose message reads
"terminating connection due to conflict with recovery", does not retry;
the other recovery conflicts carry 40001 and do.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from datetime import date
from typing import IO, Any

import yaml
from py4j.java_gateway import is_instance_of
from pyspark import SparkContext
from pyspark.sql import DataFrame

from floorist_spark.storage import StorageClient

#: Reference default rows-per-output-file (`floorist.py:194`).
DEFAULT_CHUNKSIZE = 1000

#: Reference retry envelope (`floorist.py:22-23`).
MAX_RETRIES = 3
RETRY_DELAY = 5  # seconds

#: Transient-database error signatures (`floorist.py:31-36`).
RETRYABLE_ERROR_PATTERNS = (
    "SerializationFailure",
    "conflict with recovery",
    "PendingRollbackError",
    "invalid transaction",
)

#: Transient SQLSTATEs (PostgreSQL Appendix A): serialization failure, deadlock,
#: admin/crash shutdown, cannot connect now, and class 08's lost connections
#: (not 08004, a refused login, nor 08P01, a protocol violation: no retry mends them).
RETRYABLE_SQLSTATES = ("40001", "40P01", "57P01", "57P02", "57P03", "08000", "08001", "08003", "08006", "08007")


class FloorplanError(ValueError):
    """Raised when the floorplan document is not a YAML list of mappings."""


def parse_floorplan(stream: str | IO[str]) -> list[dict[str, Any]]:
    """YAML text -> ordered list of raw rows. Rows keep missing keys so
    ``execute`` can reproduce per-dump KeyError semantics."""
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


def _sql_cause(ex: Exception):
    """The first ``java.sql.SQLException`` with a SQLSTATE in ``ex``'s Java
    cause chain, or None."""
    link = getattr(ex, "java_exception", None)
    for _ in range(8):
        if link is None:
            break
        # a py4j JavaObject answers hasattr for any name: test the class
        if is_instance_of(SparkContext._gateway, link, "java.sql.SQLException") and link.getSQLState():
            return link
        link = link.getCause()
    return None


def is_retryable(ex: Exception) -> bool:
    """F8: the first SQLSTATE on a ``java.sql.SQLException`` in the Java
    cause chain decides; without one, the message patterns do."""
    cause = _sql_cause(ex)
    if cause is not None:
        return cause.getSQLState() in RETRYABLE_SQLSTATES
    return any(p in str(ex) for p in RETRYABLE_ERROR_PATTERNS)


def describe(ex: Exception) -> str:
    """One line naming the driver's error: the class, message and SQLSTATE
    of the link ``is_retryable`` reads, else the first line of ``ex``."""
    cause = _sql_cause(ex)
    if cause is None:
        return str(ex).split("\n")[0]
    # pgjdbc appends "Detail:" and "Hint:" lines to the server's message
    message = str(cause.getMessage()).split("\n")[0]
    return f"{cause.getClass().getName()}: {message} (SQLSTATE {cause.getSQLState()})"


class DumpExecutor:
    """F10: orchestrate path → query → sink per floorplan row, with
    retry/cleanup semantics (`floorist.py:159-256`): up to ``MAX_RETRIES``
    attempts while ``is_retryable`` holds, each retry after a cleanup of
    the target and a ``sleep`` of ``RETRY_DELAY * 2**attempt``.

    ``query_runner`` builds the DataFrame for a SQL string — ``spark.sql``
    in native mode, a JDBC read in jdbc mode. The DataFrame is lazy; the
    sink executes it once (``StorageClient.write_parquet``), inside the
    retry scope, so a mid-write failure replays the whole query after
    cleanup.
    """

    def __init__(
        self,
        storage: StorageClient,
        query_runner: Callable[[str], DataFrame],
        run_date: date | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.storage = storage
        self.query_runner = query_runner
        self.run_date = run_date
        self.sleep = sleep

    def execute(self, row: dict, dump_count: int) -> bool:
        """Run one dump; True on success. Never raises — failure isolation
        is the contract (`floorist.py:180-256`)."""
        try:
            path, target = self.storage.make_path(row["prefix"], self.run_date)
            query = row["query"]
            chunksize = row.get("chunksize", DEFAULT_CHUNKSIZE) or None
            if chunksize is not None and (type(chunksize) is not int or chunksize < 1):
                raise ValueError(f"chunksize must be a positive integer, got {chunksize!r}")
        except (KeyError, ValueError) as ex:
            logging.exception("[Dump #%d] %s", dump_count, ex)
            return False

        for attempt in range(MAX_RETRIES):
            try:
                if attempt > 0:
                    logging.info(
                        "[Dump #%d] Retry %d of %d (attempt %d total)",
                        dump_count,
                        attempt,
                        MAX_RETRIES - 1,
                        attempt + 1,
                    )
                    try:
                        self.storage.cleanup(target)
                    except Exception:
                        logging.exception(
                            "[Dump #%d] S3 cleanup failed, cannot retry", dump_count
                        )
                        return False

                logging.debug("[Dump #%d] Query: %s", dump_count, query)
                df = self.query_runner(query)
                files = self.storage.write_parquet(df, target, chunksize=chunksize)
                if not files:
                    logging.info("[Dump #%d] Empty folder created for empty result", dump_count)
                for chunk in range(1, files + 1):
                    logging.info("[Dump #%d] Written parquet chunk #%d", dump_count, chunk)
                logging.debug("[Dump #%d] Dumped %s to %s", dump_count, query, path)
                return True

            except Exception as ex:
                logging.warning("[Dump #%d] Attempt %d failed", dump_count, attempt + 1)
                if not is_retryable(ex):
                    logging.exception("[Dump #%d] %s", dump_count, ex)
                    break
                if attempt == MAX_RETRIES - 1:
                    logging.exception("[Dump #%d] Retries exhausted %s", dump_count, ex)
                    break

                backoff = RETRY_DELAY * 2**attempt
                logging.warning(
                    "[Dump #%d] Retrying in %d seconds due to: %s",
                    dump_count,
                    backoff,
                    describe(ex),
                )
                self.sleep(backoff)

        return False
