"""Build the pgwire stand-in JDBC driver jar (tests/pgwire) if possible.

The live-PostgreSQL e2e (tests/test_postgres_e2e.py) needs an
org.postgresql JDBC driver on the Spark session classpath AT JVM LAUNCH.
This box has PostgreSQL 15 server binaries but no network/Maven access for
the real pgjdbc jar, so tests/pgwire/org/postgresql/Driver.java implements
the (public) frontend/backend protocol v3 subset Spark's read path needs —
see that file's header for scope and provenance.

The jar carries the ``META-INF/services/java.sql.Driver`` entry pgjdbc
ships, so ``DriverManager`` finds the driver by the ``jdbc:postgresql:``
URL alone, as the engine's reads do.

Called from conftest at collection time, BEFORE any SparkSession exists:
compiles with the in-box JDK (cached by source mtime, rebuilt when a cached
jar lacks the services entry) and exports
``FLOORIST_EXTRA_JARS`` so ``floorist_spark.session.get_spark`` puts the
jar on the driver classpath. A user-provided ``FLOORIST_EXTRA_JARS``
(e.g. the real pgjdbc) is never overridden.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile

PGWIRE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pgwire")
SRC = os.path.join(PGWIRE_DIR, "org", "postgresql", "Driver.java")
JAR = os.path.join(PGWIRE_DIR, "build", "pgwire-standin.jar")
SERVICES = "META-INF/services/java.sql.Driver"


def _cached_jar_is_current() -> bool:
    if not os.path.exists(JAR) or os.path.getmtime(JAR) < os.path.getmtime(SRC):
        return False
    try:
        with zipfile.ZipFile(JAR) as jar:
            return SERVICES in jar.namelist()
    except zipfile.BadZipFile:
        return False


def ensure_pgwire_jar() -> str | None:
    """Return the jar path, building it if stale; None if unbuildable."""
    if not os.path.exists(SRC):
        return None
    if _cached_jar_is_current():
        return JAR
    javac, jar_tool = shutil.which("javac"), shutil.which("jar")
    if javac is None or jar_tool is None:
        return None
    classes = os.path.join(PGWIRE_DIR, "build", "classes")
    services = os.path.join(classes, SERVICES)
    os.makedirs(os.path.dirname(services), exist_ok=True)
    with open(services, "w") as fh:
        fh.write("org.postgresql.Driver\n")
    try:
        subprocess.run(
            [javac, "-encoding", "UTF-8", "-d", classes, SRC],
            check=True,
            capture_output=True,
            cwd=PGWIRE_DIR,
            timeout=120,
        )
        subprocess.run(
            [jar_tool, "cf", JAR, "-C", classes, "."],
            check=True,
            capture_output=True,
            cwd=PGWIRE_DIR,
            timeout=120,
        )
    except (subprocess.SubprocessError, OSError):
        return None
    return JAR if os.path.exists(JAR) else None


def export_extra_jars() -> None:
    """Point FLOORIST_EXTRA_JARS at the stand-in unless the caller already
    supplied jars of their own (e.g. the real pgjdbc)."""
    if os.environ.get("FLOORIST_EXTRA_JARS"):
        return
    jar = ensure_pgwire_jar()
    if jar:
        os.environ["FLOORIST_EXTRA_JARS"] = jar
