"""Run driver: floorplan iteration + exit-code contract (SURVEY §2 F11, F14).

Reference (`/root/reference/src/floorist/floorist.py:259-303`):

* startup: verify storage, connect the query backend, log the two
  "Successfully connected" lines;
* run: iterate floorplan rows in order, count successes, log
  ``"Dumped X from total of Y"``, and **exit(1) if any dump failed** —
  partial results stay written (`floorist.py:279-292`,
  `tests/test_floorist.py:190-198`);
* logging surface: ``[%(asctime)s] [%(levelname)s]`` format, LOGLEVEL env
  (`floorist.py:25,295-297`).
"""

from __future__ import annotations

import logging
import sys
from functools import partial
from os import environ

from floorist_spark.config import Config, base_output_uri, get_config, s3a_conf
from floorist_spark.executor import DumpExecutor, load_floorplan
from floorist_spark.session import get_spark, register_views
from floorist_spark.storage import StorageClient

LOG_FMT = "[%(asctime)s] [%(levelname)s] %(message)s"

#: JVM profile of a cron run: C1 JIT only, and the serial collector. A cron
#: run is one cold process of 20-30 s, so tiered C2 compilation costs more
#: CPU than its faster code saves before the process exits, and the serial
#: collector measured fewer CPU seconds than G1 on top of that; at the
#: reference's 100m CPU limit those CPU seconds are wall time.
#: ``defaultJavaOptions`` is prepended to the deployment's own
#: ``spark.driver.extraJavaOptions``, so those survive, and a later
#: ``-XX:TieredStopAtLevel=4`` there restores C2. Switching the collector
#: there takes ``-XX:-UseSerialGC`` too: two selected collectors stop the
#: JVM at launch.
CRON_JVM_CONF = {"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"}


class FlooristSpark:
    """The engine driver. ``mode="native"`` executes floorplan queries on
    Catalyst over the registered views; ``mode="jdbc"`` pushes them to live
    PostgreSQL for reference parity (`sources/jdbc.py`).

    Without ``spark`` it launches its own session and JVM with the cron
    profile ``CRON_JVM_CONF``; a session handed in keeps the JVM it was
    launched with. Under ``spark-submit`` the JVM exists before the session
    is built, so the profile does not apply there."""

    def __init__(self, config: Config, spark=None):
        self.config = config
        self.spark = spark or get_spark("floorist_spark", extra_conf={**s3a_conf(config), **CRON_JVM_CONF})

        self.storage = StorageClient(self.spark, base_output_uri(config))
        self.storage.verify()
        logging.info("Successfully connected to the S3 bucket")

        if config.mode == "jdbc":
            from floorist_spark.sources.jdbc import read_query

            runner = partial(read_query, self.spark, config)
        else:
            from floorist_spark.operators.catalog import resolve_catalog_query

            if config.data_dir:
                register_views(self.spark, config.data_dir)

            def runner(query: str):
                # floorplan rows can reference any catalog operator by name
                # (`query: catalog:d04_lsh_jaccard_dedup`) — same sink path.
                df = resolve_catalog_query(self.spark, query, config.data_dir)
                return df if df is not None else self.spark.sql(query)

        logging.info("Successfully connected to the database")
        self.executor = DumpExecutor(self.storage, runner, run_date=config.run_date)

    def run(self) -> None:
        """F11: run the dumps in floorplan order, each isolated from the
        others, and exit(1) if any failed (`floorist.py:279-292`). A catalog
        dump releases the previous catalog dump's cached intermediates when
        it is built (``catalog._with_cache_release``), so a many-dump
        floorplan stays memory-flat without a release here."""
        rows = load_floorplan(self.config.floorplan_filename)
        dumped_count = 0
        for i, row in enumerate(rows):
            dumped_count += self.executor.execute(row, i + 1)

        logging.info("Dumped %d from total of %d", dumped_count, len(rows))
        if dumped_count != len(rows):
            sys.exit(1)


def _configure_loglevel() -> None:
    """F14 (`floorist.py:295-297`)."""
    loglevel = environ.get("LOGLEVEL", "INFO").upper()
    logging.basicConfig(level=loglevel, format=LOG_FMT)


def main() -> None:
    _configure_loglevel()
    FlooristSpark(get_config()).run()
