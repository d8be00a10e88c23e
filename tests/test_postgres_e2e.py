"""F2/F3/F9/F10/F11 against a LIVE PostgreSQL server — the reference's
primary test layer (`/root/reference/tests/test_floorist.py:15-220` runs
`main()` against Postgres 16 via `tests/docker-compose.yml:1-42`, with a
uuid corpus seeded by `tests/enable-extensions.sh` /
`tests/floorplan_valid.yaml`).

The Derby e2e (test_jdbc_e2e.py) proves the plumbing on a real JDBC wire;
what THIS file adds is the real PostgreSQL dialect: uuid (OID 2950) →
string (F3), text[] / jsonb / interval / inet / numeric / timestamptz
mapping, server-side fetchsize paging over generate_series, and the default
``jdbc:postgresql://host/db`` URL construction from ``POSTGRES_SERVICE_HOST``
(`sources/jdbc.py:jdbc_url`) that every other test bypasses with
``FLOORIST_JDBC_URL``.

Server provisioning, in order of preference:

1. **External** — set ``FLOORIST_PG_URL`` (plus optional
   ``FLOORIST_PG_USER`` / ``FLOORIST_PG_PASSWORD``, default ``floorist`` /
   trust) to point at a running server, e.g. ``docker compose -f
   tests/compose/docker-compose.yml up`` which mirrors the reference
   harness.
2. **Self-started** — when ``initdb`` / ``pg_ctl`` are on PATH, a
   throwaway cluster is initialized in a tempdir and started on a free
   port for the module (as the ``postgres`` system user via ``runuser``
   when running as root — postgres refuses to run as root).

Driver: Spark's JDBC source needs the org.postgresql driver jar on the
session classpath AT JVM LAUNCH. Set ``FLOORIST_EXTRA_JARS=<path to
postgresql-*.jar>`` before starting pytest (picked up by
``floorist_spark.session.get_spark``). Without it every test here skips
with that instruction — the sandbox this repo is developed in has no
Maven access, so the jar cannot be vendored.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import time
from datetime import date, datetime
from functools import partial

import pytest

from floorist_spark.config import Config
from floorist_spark.executor import DumpExecutor
from floorist_spark.sources.jdbc import jdbc_url, read_query
from floorist_spark.storage import StorageClient

RUN_DATE = date(2026, 3, 4)
DAY_PATH = "year_created=2026/month_created=3/day_created=4"

UUIDS = [
    "00000000-0000-4000-8000-000000000001",
    "00000000-0000-4000-8000-000000000002",
    "00000000-0000-4000-8000-000000000003",
]


def _have_pg_binaries() -> bool:
    return shutil.which("initdb") is not None and shutil.which("pg_ctl") is not None


if os.environ.get("FLOORIST_PG_URL") is None and not _have_pg_binaries():
    pytest.skip(
        "no live PostgreSQL: set FLOORIST_PG_URL (e.g. via "
        "tests/compose/docker-compose.yml) or install postgres binaries",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def pg_driver(spark):
    """Skip the module unless the org.postgresql driver is loadable in the
    ACTIVE session JVM (classpath is fixed at launch — see module doc)."""
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
    except Exception:
        pytest.skip(
            "org.postgresql.Driver not on the Spark session classpath; "
            "set FLOORIST_EXTRA_JARS=<postgresql-*.jar> before pytest"
        )


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_pg_user(cmd: list[str]) -> list[str]:
    """postgres refuses to run as root; re-exec via the postgres system
    user then (the reference's compose image does the same switch)."""
    if os.geteuid() == 0:
        return ["runuser", "-u", "postgres", "--", *cmd]
    return cmd


@pytest.fixture(scope="module")
def pg_server(pg_driver, tmp_path_factory):
    """A live server: external (FLOORIST_PG_URL) or self-started cluster."""
    ext = os.environ.get("FLOORIST_PG_URL")
    if ext:
        yield {
            "url": ext,
            "host": os.environ.get("FLOORIST_PG_HOST", "127.0.0.1:5432"),
            "db": os.environ.get("FLOORIST_PG_DB", "floorist"),
            "user": os.environ.get("FLOORIST_PG_USER", "floorist"),
            "password": os.environ.get("FLOORIST_PG_PASSWORD", "floorist"),
        }
        return

    # NOT tmp_path_factory: pytest's basetemp chain is mode-700 for the
    # invoking user, and the cluster runs as the `postgres` system user,
    # which then cannot traverse into the data dir (initdb exits 1).
    import tempfile

    base_dir = tempfile.mkdtemp(prefix="floorist_pg_e2e_")
    from pathlib import Path

    base = Path(base_dir)
    data, sock = base / "data", base / "sock"
    sock.mkdir()
    if os.geteuid() == 0:
        subprocess.run(["chown", "-R", "postgres:postgres", str(base)], check=True)
    subprocess.run(
        _as_pg_user(
            ["initdb", "-D", str(data), "-U", "floorist", "--auth=trust", "--no-sync"]
        ),
        check=True,
        capture_output=True,
    )
    port = _free_port()
    subprocess.run(
        _as_pg_user(
            [
                "pg_ctl",
                "-D",
                str(data),
                "-l",
                str(base / "pg.log"),
                "-o",
                f"-p {port} -k {sock} -c listen_addresses=127.0.0.1",
                "-w",
                "start",
            ]
        ),
        check=True,
        capture_output=True,
    )
    try:
        for _ in range(50):
            with socket.socket() as s:
                if s.connect_ex(("127.0.0.1", port)) == 0:
                    break
            time.sleep(0.2)
        yield {
            "url": f"jdbc:postgresql://127.0.0.1:{port}/postgres",
            "host": f"127.0.0.1:{port}",
            "db": "postgres",
            "user": "floorist",
            "password": "floorist",  # trust auth: value is irrelevant
        }
    finally:
        subprocess.run(
            _as_pg_user(["pg_ctl", "-D", str(data), "-m", "immediate", "stop"]),
            check=False,
            capture_output=True,
        )
        shutil.rmtree(base_dir, ignore_errors=True)


def pg_config(pg: dict) -> Config:
    return Config(
        mode="jdbc",
        jdbc_url=pg["url"],
        database_username=pg["user"],
        database_password=pg["password"],
    )


@pytest.fixture(scope="module")
def seeded(spark, pg_server):
    """Seed the uuid/array/jsonb corpus over a REAL driver connection —
    the analogue of the reference's enable-extensions.sh + fixtures.
    gen_random_uuid() (core since PG13) stands in for uuid_generate_v1()
    so no contrib extension install is needed."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        pg_server["url"], pg_server["user"], pg_server["password"]
    )
    st = conn.createStatement()
    st.execute("DROP TABLE IF EXISTS pg_people")
    st.execute(
        "CREATE TABLE pg_people (id uuid, name text, tags text[], "
        "meta jsonb, amt numeric(12,4), created timestamptz, n bigint, "
        "span interval, addr inet, ints int4[], at time)"
    )
    rows = [
        f"('{UUIDS[0]}', 'one',   ARRAY['a','b'], '{{\"k\": 1}}', 12.5000, "
        "TIMESTAMPTZ '2026-01-02 03:04:05+00', 9000000000, "
        "INTERVAL '1 day 02:03:04', INET '10.1.2.3/8', ARRAY[1, -2, NULL]::int4[], "
        "TIME '13:14:15')",
        f"('{UUIDS[1]}', 'two',   ARRAY['c'],     '{{\"k\": 2}}', 0.2500, "
        "TIMESTAMPTZ '2026-02-03 04:05:06+00', 1, INTERVAL '3 months', INET '::1', "
        "ARRAY[2147483647]::int4[], TIME '00:00:00')",
        f"('{UUIDS[2]}', 'three', ARRAY[]::text[], NULL,          99.9900, "
        "TIMESTAMPTZ '2026-03-04 05:06:07+00', -7, NULL, NULL, '{}'::int4[], NULL)",
    ]
    for r in rows:
        st.execute(f"INSERT INTO pg_people VALUES {r}")
    yield conn
    conn.close()


def test_uuid_oid_2950_maps_to_string(spark, pg_server, seeded):
    # F3 on the REAL dialect: the reference registered a psycopg2 caster
    # for OID 2950 (`src/floorist/floorist.py:27-29,117-139`); Spark's
    # PostgresDialect maps uuid -> StringType on its own, with no cast.
    df = read_query(
        spark, pg_config(pg_server), "SELECT id, name FROM pg_people ORDER BY n"
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "string",
    ]
    got = {r["name"]: r["id"] for r in df.collect()}
    assert got == {"one": UUIDS[0], "two": UUIDS[1], "three": UUIDS[2]}


def test_pg_exotic_types_survive_the_dump_path(spark, pg_server, seeded, tmp_path):
    # text[] / int4[] / jsonb / numeric / timestamptz / time / interval /
    # inet through read -> partitioned parquet sink, then read back exact;
    # the dialect maps every Types.OTHER column (jsonb, interval, inet) to
    # string.
    storage = StorageClient(spark, f"file://{tmp_path}")
    runner = partial(read_query, spark, pg_config(pg_server))
    ex = DumpExecutor(storage, runner, run_date=RUN_DATE)
    assert ex.execute(
        {"prefix": "dumps/people", "query": "SELECT * FROM pg_people"}, 1
    )
    back = spark.read.parquet(
        f"file://{tmp_path}/dumps/people/{DAY_PATH}"
    ).orderBy("name")
    types = dict(zip(back.columns, [f.dataType.simpleString() for f in back.schema]))
    assert types["id"] == "string"
    assert types["tags"] == "array<string>"
    assert types["meta"] == "string"  # jsonb arrives as its text form
    assert types["amt"] == "decimal(12,4)"
    assert types["created"].startswith("timestamp")
    assert types["span"] == "string"
    assert types["addr"] == "string"
    rows = {r["name"]: r for r in back.collect()}
    assert rows["one"]["tags"] == ["a", "b"]
    assert rows["three"]["tags"] == []
    assert rows["three"]["meta"] is None
    assert str(rows["one"]["amt"]) == "12.5000"
    assert rows["two"]["n"] == 1
    assert rows["one"]["span"] == "1 day 02:03:04"
    assert rows["two"]["span"] == "3 mons"
    assert rows["one"]["addr"] == "10.1.2.3/8"
    assert rows["two"]["addr"] == "::1"
    assert rows["three"]["span"] is None and rows["three"]["addr"] is None
    # int4[] elements arrive as ints (the driver types an array by its
    # element), and a time column as that time of day on 1970-01-01
    assert types["ints"] == "array<int>"
    assert rows["one"]["ints"] == [1, -2, None]
    assert rows["two"]["ints"] == [2147483647]
    assert rows["three"]["ints"] == []
    assert types["at"] == "timestamp"
    assert rows["one"]["at"] == datetime(1970, 1, 1, 13, 14, 15)
    assert rows["two"]["at"] == datetime(1970, 1, 1)
    assert rows["three"]["at"] is None


def test_numeric_type_zoo_bit_exact(spark, pg_server, pg_driver):
    # The text wire protocol must not lose numeric fidelity: float8 is
    # rendered shortest-roundtrip under extra_float_digits (the driver
    # sets 3 at startup), so every double — including denormals and
    # nonfinite values — must come back BIT-identical; bool/int2/float4/
    # bytea/date and typmod-less numeric cover the remaining dialect
    # mappings the uuid corpus doesn't touch.
    df = read_query(
        spark,
        pg_config(pg_server),
        "SELECT b, si, f4, f8, by, d, n FROM (VALUES "
        " (true,  32767::int2, 1.5::float4, 0.1::float8,"
        "  '\\x00ff10'::bytea, DATE '2026-02-28', 12345.678901234::numeric),"
        " (false, (-32768)::int2, -2.25::float4, 2.2250738585072014e-308::float8,"
        "  ''::bytea, DATE '1970-01-01', -1::numeric),"
        " (NULL, NULL, 'NaN'::float4, 'Infinity'::float8,"
        "  NULL, NULL, NULL),"
        " (true, 0::int2, '-Infinity'::float4, 'NaN'::float8,"
        "  '\\xdeadbeef'::bytea, DATE '2000-02-29', 0.5::numeric)"
        ") AS t(b, si, f4, f8, by, d, n) ORDER BY si NULLS LAST",
    )
    types = dict(
        zip(df.columns, [f.dataType.simpleString() for f in df.schema.fields])
    )
    assert types["b"] == "boolean"
    assert types["si"] == "smallint"
    assert types["f4"] == "float"
    assert types["f8"] == "double"
    assert types["by"] == "binary"
    assert types["d"] == "date"
    assert types["n"].startswith("decimal")  # typmod-less -> dialect default
    rows = df.collect()
    import math
    from datetime import date as _date
    from decimal import Decimal

    by_si = {r["si"]: r for r in rows}
    r = by_si[-32768]
    assert r["b"] is False
    assert r["f4"] == -2.25
    assert r["f8"] == 2.2250738585072014e-308  # smallest normal, bit-exact
    assert bytes(r["by"]) == b""
    assert r["d"] == _date(1970, 1, 1)
    r = by_si[32767]
    assert r["b"] is True and r["f4"] == 1.5
    assert r["f8"] == 0.1  # shortest-roundtrip text render, bit-exact
    assert bytes(r["by"]) == b"\x00\xff\x10"
    assert r["n"] == Decimal("12345.678901234")
    r = by_si[0]
    assert math.isinf(r["f4"]) and r["f4"] < 0
    assert math.isnan(r["f8"])
    assert bytes(r["by"]) == b"\xde\xad\xbe\xef"
    assert r["d"] == _date(2000, 2, 29)
    r = by_si[None]
    assert r["b"] is None and r["by"] is None and r["d"] is None
    assert math.isnan(r["f4"]) and math.isinf(r["f8"]) and r["f8"] > 0


def test_fetchsize_pages_server_side(spark, pg_server, pg_driver):
    # F2: fetchsize bounds rows per wire round-trip; 5000 rows at the
    # default 1000 take 5 fetches through one connection
    # (a query read is one partition — one snapshot, reference F9).
    df = read_query(
        spark,
        pg_config(pg_server),
        "SELECT i, md5(i::text) AS h FROM generate_series(1, 5000) AS t(i)",
    )
    agg = df.selectExpr("count(*) AS c", "sum(i) AS s").collect()[0]
    assert agg["c"] == 5000
    assert agg["s"] == 5000 * 5001 // 2


def test_runner_env_end_to_end_via_postgres_service_host(
    spark, pg_server, seeded, tmp_path, monkeypatch
):
    # The reference program shape with the DEFAULT postgres URL path:
    # POSTGRES_SERVICE_HOST + POSTGRESQL_* -> jdbc:postgresql://host/db
    # (`sources/jdbc.py:jdbc_url`) -> dump -> partitioned parquet, plus
    # F10/F11: the floorplan's invalid second dump fails in isolation and
    # the run exits 1 (mirrors test_floorist.py's
    # test_floorplan_with_one_failing_dump).
    from floorist_spark.config import get_config
    from floorist_spark.runner import FlooristSpark

    plan = tmp_path / "plan.yaml"
    plan.write_text(
        "- prefix: exports/people\n"
        "  query: SELECT id, name FROM pg_people\n"
        "- prefix: exports/broken\n"
        "  query: SELECT * FROM missing_table\n"
    )
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setenv("FLOORPLAN_FILE", str(plan))
    monkeypatch.setenv("FLOORIST_OUTPUT_URI", f"file://{out}")
    monkeypatch.setenv("AWS_ENDPOINT", "http://irrelevant.invalid")
    monkeypatch.setenv("POSTGRES_SERVICE_HOST", pg_server["host"])
    monkeypatch.setenv("POSTGRESQL_DATABASE", pg_server["db"])
    monkeypatch.setenv("POSTGRESQL_USER", pg_server["user"])
    monkeypatch.setenv("POSTGRESQL_PASSWORD", pg_server["password"])
    monkeypatch.delenv("FLOORIST_JDBC_URL", raising=False)
    monkeypatch.delenv("FLOORIST_DATA_DIR", raising=False)
    monkeypatch.setenv("FLOORIST_RUN_DATE", RUN_DATE.isoformat())

    cfg = get_config()  # the env alone selects jdbc: no data dir
    assert jdbc_url(cfg) == f"jdbc:postgresql://{pg_server['host']}/{pg_server['db']}"
    with pytest.raises(SystemExit) as ex:
        FlooristSpark(cfg, spark=spark).run()
    assert ex.value.code == 1  # one dump failed -> partial-failure exit

    back = spark.read.parquet(f"file://{out}/exports/people/{DAY_PATH}")
    assert back.count() == 3
    assert set(back.columns) == {"id", "name"}
    assert not (out / "exports/broken").exists()


def test_jdbc_serialization_failure_retries_after_cleanup(spark, pg_server, seeded, tmp_path):
    # F7/F8 on the error the driver really raises: the query's first
    # execution fails with SQLSTATE 40001 inside a Spark task. It reaches
    # Python as a Py4JJavaError whose message matches none of the
    # reference's patterns; the SQLSTATE in its Java cause chain makes it
    # retryable, so the dump is cleaned up, backs off 5 s and succeeds.
    st = seeded.createStatement()
    st.execute("DROP FUNCTION IF EXISTS fail_first_call()")
    st.execute("DROP SEQUENCE IF EXISTS first_call")
    st.execute("CREATE SEQUENCE first_call")
    st.execute(
        "CREATE FUNCTION fail_first_call() RETURNS int LANGUAGE plpgsql AS $$ "
        "BEGIN IF nextval('first_call') = 1 THEN RAISE EXCEPTION "
        "'could not serialize access due to concurrent update' "
        "USING ERRCODE = '40001'; END IF; RETURN 1; END $$"
    )
    storage = StorageClient(spark, f"file://{tmp_path}")
    cfg = pg_config(pg_server)
    calls, sleeps = [], []

    def runner(query):
        calls.append(query)
        return read_query(spark, cfg, query)

    ex = DumpExecutor(storage, runner, run_date=RUN_DATE, sleep=sleeps.append)
    row = {
        "prefix": "dumps/flaky",
        "query": "SELECT x, fail_first_call() AS ok FROM generate_series(1, 100) x",
        "chunksize": 30,
    }
    assert ex.execute(row, 1) is True
    assert len(calls) == 2
    assert sleeps == [5]
    target = f"file://{tmp_path}/dumps/flaky/{DAY_PATH}"
    assert len(storage.list_parquet_files(target)) == 4
    back = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert back == [(x, 1) for x in range(1, 101)]


def test_jdbc_undefined_table_fails_at_once_and_run_exits_1(spark, pg_server, seeded, tmp_path):
    # SQLSTATE 42P01 is not transient: one attempt and no backoff. The
    # later valid dump is still written, and the run exits 1 (F10/F11).
    from floorist_spark.runner import FlooristSpark

    plan = tmp_path / "plan.yaml"
    plan.write_text(
        "- prefix: exports/missing\n"
        "  query: SELECT * FROM no_such_table\n"
        "- prefix: exports/people\n"
        "  query: SELECT name FROM pg_people\n"
    )
    out = tmp_path / "out"
    out.mkdir()
    cfg = pg_config(pg_server)
    cfg.floorplan_filename = str(plan)
    cfg.output_uri = f"file://{out}"
    cfg.run_date = RUN_DATE
    engine = FlooristSpark(cfg, spark=spark)
    calls, sleeps = [], []
    build = engine.executor.query_runner

    def runner(query):
        calls.append(query)
        return build(query)

    engine.executor.query_runner = runner
    engine.executor.sleep = sleeps.append
    with pytest.raises(SystemExit) as ex:
        engine.run()
    assert ex.value.code == 1
    assert calls == ["SELECT * FROM no_such_table", "SELECT name FROM pg_people"]
    assert sleeps == []
    back = spark.read.parquet(f"file://{out}/exports/people/{DAY_PATH}")
    assert sorted(r["name"] for r in back.collect()) == ["one", "three", "two"]
    assert not (out / "exports/missing").exists()


def test_jdbc_dump_executes_query_once(spark, pg_server, seeded, tmp_path):
    # F9: one execution per dump, so one database snapshot. nextval() in
    # the select list counts the rows the server computed for each dump.
    storage = StorageClient(spark, f"file://{tmp_path}")
    cfg = pg_config(pg_server)
    ex = DumpExecutor(storage, partial(read_query, spark, cfg), run_date=RUN_DATE)
    reads = []
    for i, chunksize in enumerate((13, None)):
        st = seeded.createStatement()
        st.execute("DROP SEQUENCE IF EXISTS reads")
        st.execute("CREATE SEQUENCE reads")
        row = {
            "prefix": f"dumps/once{i}",
            "query": "SELECT x, nextval('reads') AS r FROM generate_series(1, 1000) x",
            "chunksize": chunksize,
        }
        assert ex.execute(row, i + 1) is True
        reads.append(read_query(spark, cfg, "SELECT last_value FROM reads").collect()[0][0])
    assert reads == [1000, 1000]
