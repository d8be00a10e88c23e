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

import atexit
import hashlib
import logging
import os
import shutil
import subprocess
import sys
from contextlib import suppress
from functools import partial
from glob import glob

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

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


class ClassArchive:
    """The cron JVM's Class Data Sharing archive: Spark's classes, parsed and
    laid out once, mapped by every later launch instead of loaded from the
    jars one by one. It lives in ``$XDG_CACHE_HOME/floorist_spark/`` (else
    ``~/.cache/floorist_spark/``), named by a digest of the launch inputs the
    program sees: the java binary and Spark's jars (path, size, mtime),
    ``FLOORIST_EXTRA_JARS`` and its jars, and ``CRON_JVM_CONF``.

    A dump costs about 30 s of one core and 180 MB, so only a cache that
    outlives a run is worth one: the first launch of a key only leaves the
    mark ``<key>.seen``; the next launch that finds it trains. Its JVM
    writes the names of the classes it loads, and at interpreter exit,
    after that JVM has ended, ``java -Xshare:dump`` turns the list into the
    archive, on the classpath the JVM reported. The dump runs in this
    process, so a supervisor that stops the process group when Python exits
    cannot cut it short. Every later launch maps the file; a JVM that finds
    it stale runs without it. A fresh container's cache never holds a mark,
    so its run never dumps.

    JDK 17 shares no class from a classpath that holds a non-empty
    directory, and Spark's conf dir is always on it. So the archive is used
    only when that dir holds nothing but ``*.template`` files, and the JVM
    then starts with ``SPARK_CONF_DIR`` pointed at an empty dir in the
    cache. A deployment with a real ``spark-defaults.conf`` launches as
    before, and so does one whose cache holds no archive and cannot be
    written."""

    def __init__(self, root: str, key: str):
        self.root = root
        self.path = os.path.join(root, f"{key}.jsa")
        self.conf_dir = os.path.join(root, "conf")
        self.class_list: str | None = None

    @classmethod
    def for_launch(cls) -> ClassArchive | None:
        """The archive to map, or the one to train, or None to launch as
        before (this launch may leave the key's mark)."""
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or ""
        extra = os.environ.get("FLOORIST_EXTRA_JARS", "")
        inputs = [java, *sorted(glob(os.path.join(spark_home, "jars", "*")))]
        inputs += [j for j in extra.replace(os.pathsep, ",").split(",") if j]
        digest = hashlib.sha256(f"{extra}\0{CRON_JVM_CONF}\0".encode())
        try:
            for path in inputs:
                st = os.stat(path)
                digest.update(f"{os.path.realpath(path)}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
        except OSError:
            return None
        cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        key = digest.hexdigest()[:16]
        archive = cls(os.path.join(cache, "floorist_spark"), key)
        # mapping only reads: a read-only cache that holds the file maps it
        if os.path.isfile(archive.path):
            return archive if os.path.isdir(archive.conf_dir) else None
        seen = os.path.join(archive.root, f"{key}.seen")
        try:
            os.makedirs(archive.conf_dir, exist_ok=True)
            if not os.path.exists(seen):
                open(seen, "w").close()
                return None
        except OSError:
            return None
        if not os.access(archive.root, os.W_OK):
            return None
        archive.class_list = f"{archive.path}.{os.getpid()}.classlist"
        return archive

    def java_options(self) -> str:
        """Record the classes to train the archive, or map it."""
        if self.class_list:
            return f"-XX:DumpLoadedClassList={self.class_list}"
        return f"-XX:SharedArchiveFile={self.path} -Xlog:cds=off"

    def train_at_exit(self, spark) -> None:
        """Dump the archive at interpreter exit from the live JVM's class list
        and classpath."""
        system = spark._jvm.java.lang.System
        java = os.path.join(system.getProperty("java.home"), "bin", "java")
        atexit.register(self._dump, spark.sparkContext._gateway, java, system.getProperty("java.class.path"))

    def _dump(self, gateway, java: str, classpath: str) -> None:
        tmp = f"{self.path}.{os.getpid()}.tmp"
        try:
            # py4j first, so its finalizer thread sends nothing to a JVM that
            # is going away; then an EOF on stdin ends the JVM, which closes
            # the class list
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait()
            # -XX:SharedArchiveFile is never left out: without it the dump
            # overwrites the JDK's own default archive
            cmd = [java, "-Xshare:dump", f"-XX:SharedClassListFile={self.class_list}", f"-XX:SharedArchiveFile={tmp}"]
            cmd += [*CRON_JVM_CONF["spark.driver.defaultJavaOptions"].split(), "-cp", classpath]
            done = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
            if done.returncode:
                tail = done.stdout.decode(errors="replace").strip()[-500:]
                logging.warning("Class-data archive dump failed (exit %d): %s", done.returncode, tail)
                return
            os.replace(tmp, self.path)
        except OSError as ex:
            logging.warning("Class-data archive not written: %s", ex)
            return
        finally:
            for path in (self.class_list, tmp):
                if os.path.exists(path):
                    os.remove(path)
        # the archive supersedes older keys' archives and marks, and its own
        for old in glob(os.path.join(self.root, "*.jsa")) + glob(os.path.join(self.root, "*.seen")):
            if old != self.path:
                with suppress(OSError):
                    os.remove(old)


def launch_session(config: Config):
    """The cron run's own session: ``CRON_JVM_CONF``, and the class-data
    archive when this call launches the JVM and ``ClassArchive.for_launch``
    allows one. A JVM exists already once this process has built a session,
    and under ``spark-submit``, which hands pyspark its gateway through
    ``PYSPARK_GATEWAY_PORT``; its launch options are past changing."""
    conf = {**s3a_conf(config), **CRON_JVM_CONF}
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = ClassArchive.for_launch() if launches else None
    if archive is None:
        return get_spark("floorist_spark", extra_conf=conf)
    conf["spark.driver.defaultJavaOptions"] += " " + archive.java_options()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = get_spark("floorist_spark", extra_conf=conf)
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if archive.class_list:
        archive.train_at_exit(spark)
    return spark


class FlooristSpark:
    """The engine driver. ``mode="native"`` executes floorplan queries on
    Catalyst over the registered views; ``mode="jdbc"`` pushes them to live
    PostgreSQL for reference parity (`sources/jdbc.py`).

    Without ``spark`` it launches its own session and JVM with the cron
    profile ``CRON_JVM_CONF`` and, where ``ClassArchive`` allows, Spark's
    classes mapped from the class-data archive; a session handed in keeps
    the JVM it was launched with. Under ``spark-submit``, or once this
    process has a JVM, neither applies (``launch_session``)."""

    def __init__(self, config: Config, spark=None):
        self.config = config
        self.spark = spark or launch_session(config)

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
    """F14 (`floorist.py:295-297`); of py4j's records only warnings pass."""
    loglevel = os.environ.get("LOGLEVEL", "INFO").upper()
    logging.basicConfig(level=loglevel, format=LOG_FMT)
    logging.getLogger("py4j").setLevel(logging.WARNING)


def main() -> None:
    _configure_loglevel()
    FlooristSpark(get_config()).run()
