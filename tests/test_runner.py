"""F11/F14 end-to-end: floorplan → Catalyst → partitioned gzip parquet on a
local FS sink, with the reference's isolation/exit-code/log contract
(`/root/reference/tests/test_floorist.py:153-220`)."""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys
import textwrap
from datetime import date

import pytest

from floorist_spark.config import Config
from floorist_spark.runner import FlooristSpark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PLAN = """
- prefix: exports/values
  query: >-
    SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(num, letter)
- prefix: exports/series
  query: SELECT id AS n FROM range(0, 1000)
  chunksize: 13
- prefix: exports/empty
  query: SELECT 1 AS x WHERE 1 = 0
"""

PLAN_WITH_FAILURE = """
- prefix: exports/good
  query: SELECT 1 AS x
- prefix: exports/bad
  query: SELECT FROM nonsense syntax(
- prefix: exports/after
  query: SELECT 2 AS y
"""


@pytest.fixture
def runner_factory(spark, tmp_path):
    def make(plan_text: str, **settings) -> tuple[FlooristSpark, str]:
        plan = tmp_path / "floorplan.yaml"
        plan.write_text(plan_text)
        out = tmp_path / "out"
        out.mkdir(exist_ok=True)
        cfg = Config(
            floorplan_filename=str(plan),
            output_uri=f"file://{out}",
            mode="native",
            **settings,
        )
        return FlooristSpark(cfg, spark=spark), str(out)

    return make


def _day_dir(out: str, prefix: str) -> str:
    d = date.today()
    return os.path.join(
        out, prefix, f"year_created={d.year}", f"month_created={d.month}", f"day_created={d.day}"
    )


def test_full_run_layout_and_chunks(runner_factory, spark, caplog):
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(PLAN)
    runner.run()

    # unpadded hive-style path (F4)
    values_dir = _day_dir(out, "exports/values")
    assert os.path.isdir(values_dir)
    assert spark.read.parquet(f"file://{values_dir}").count() == 3

    # chunk-count parity: 1000 rows / chunksize 13 -> 77 files (F5)
    series_dir = _day_dir(out, "exports/series")
    files = [f for f in os.listdir(series_dir) if f.endswith(".parquet")]
    assert len(files) == 77
    assert all(".gz.parquet" in f for f in files)

    # empty result -> marker dir, no parquet (F6)
    empty_dir = _day_dir(out, "exports/empty")
    assert os.path.isdir(empty_dir)
    assert os.listdir(empty_dir) == []

    # log-string parity (F14)
    assert "Dumped 3 from total of 3" in caplog.text
    assert "Written parquet chunk #77" in caplog.text
    assert "Empty folder created for empty result" in caplog.text


def test_partial_failure_exits_1_but_later_dumps_run(runner_factory, spark, caplog):
    # reference tests/test_floorist.py:190-198: one bad dump -> exit(1),
    # successful prefixes remain written
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(PLAN_WITH_FAILURE)
    with pytest.raises(SystemExit) as exc:
        runner.run()
    assert exc.value.code == 1

    assert os.path.isdir(_day_dir(out, "exports/good"))
    assert os.path.isdir(_day_dir(out, "exports/after"))  # isolation
    assert not os.path.exists(_day_dir(out, "exports/bad"))
    assert "Dumped 2 from total of 3" in caplog.text


def test_missing_key_rows_fail_only_that_dump(runner_factory, caplog):
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(
        "- query: SELECT 1 AS x\n- prefix: exports/ok\n  query: SELECT 1 AS x\n"
    )
    with pytest.raises(SystemExit):
        runner.run()
    assert os.path.isdir(_day_dir(out, "exports/ok"))
    assert "Dumped 1 from total of 2" in caplog.text


def test_startup_logs_connected(runner_factory, caplog):
    caplog.set_level(logging.INFO)
    runner_factory(PLAN)
    assert "Successfully connected to the S3 bucket" in caplog.text
    assert "Successfully connected to the database" in caplog.text


def test_catalog_query_export(runner_factory, spark, caplog):
    # floorplan rows can export any operator-catalog entry by name
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(
        "- prefix: exports/catalog\n  query: catalog:q11_pricing_summary\n"
        "- prefix: exports/catalog_bad\n  query: catalog:nope\n",
        data_dir="/root/testdata/sf0.001",
    )
    with pytest.raises(SystemExit):  # unknown name fails ONLY that dump
        runner.run()
    d = _day_dir(out, "exports/catalog")
    assert spark.read.parquet(f"file://{d}").count() == 6  # q11 rows at sf0.001
    assert "Dumped 1 from total of 2" in caplog.text


def test_catalog_query_without_data_dir_fails_fast(runner_factory, caplog):
    # a catalog query with no FLOORIST_DATA_DIR must fail the dump loudly,
    # never silently export bundled testdata to the real sink
    caplog.set_level(logging.INFO)
    runner, out = runner_factory(
        "- prefix: exports/guard\n  query: catalog:q11_pricing_summary\n"
        "- prefix: exports/ok\n  query: SELECT 1 AS x\n"
    )
    with pytest.raises(SystemExit) as exc:
        runner.run()
    assert exc.value.code == 1
    assert not os.path.exists(os.path.join(out, "exports/guard"))
    assert os.path.isdir(_day_dir(out, "exports/ok"))  # isolation holds
    assert "FLOORIST_DATA_DIR must be set" in caplog.text


def test_unknown_catalog_name_suggests_close_matches(spark):
    from floorist_spark.operators.catalog import resolve_catalog_query

    with pytest.raises(KeyError) as exc:
        resolve_catalog_query(spark, "catalog:q11_pricing_sumary", "/tmp")
    assert "did you mean" in str(exc.value)
    assert "q11_pricing_summary" in str(exc.value)


def test_run_date_backfill(runner_factory, spark):
    # FLOORIST_RUN_DATE pins the partition path for reproducible backfills
    runner, out = runner_factory(
        "- prefix: exports/backfill\n  query: SELECT 1 AS x\n", run_date=date(2025, 2, 3)
    )
    runner.run()
    d = os.path.join(
        out, "exports/backfill", "year_created=2025", "month_created=2", "day_created=3"
    )
    assert os.path.isdir(d)
    assert spark.read.parquet(f"file://{d}").count() == 1


def test_native_views_come_from_the_data_dir(runner_factory, spark, tmp_path):
    # every <name>.parquet in FLOORIST_DATA_DIR is a view, whatever its name
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.table({"id": [1, 2, 3], "amount": [9.5, 0.25, 4.0]}), data / "invoices.parquet")
    runner, out = runner_factory(
        "- prefix: exports/invoices\n  query: SELECT * FROM invoices\n", data_dir=str(data)
    )
    runner.run()
    rows = spark.read.parquet(f"file://{_day_dir(out, 'exports/invoices')}").collect()
    assert sorted(tuple(r) for r in rows) == [(1, 9.5), (2, 0.25), (3, 4.0)]


def test_cron_jvm_profile_reaches_jvm_before_deployment_options(tmp_path):
    # the test session's JVM already exists, so a JVM that FlooristSpark
    # launches itself can only be seen from a fresh process
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Dfloorist.probe=1\n"
    )
    out = tmp_path / "out"
    out.mkdir()
    probe = textwrap.dedent(
        f"""
        import json
        from floorist_spark.config import Config
        from floorist_spark.runner import FlooristSpark

        engine = FlooristSpark(Config(output_uri="file://{out}", mode="native"))
        jvm = engine.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory
        diag = mx.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        print(json.dumps({{
            "args": list(mx.getRuntimeMXBean().getInputArguments()),
            "tier": diag.getVMOption("TieredStopAtLevel").getValue(),
            "serial_gc": diag.getVMOption("UseSerialGC").getValue(),
        }}))
        engine.spark.stop()
        """
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("FLOORIST_") and k not in ("SPARK_MASTER", "PYTHONPATH")
    }
    env.update(
        PYTHONPATH=REPO,
        SPARK_CONF_DIR=str(conf_dir),
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        env=env,
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    args = seen["args"]
    assert "-XX:TieredStopAtLevel=1" in args and "-Dfloorist.probe=1" in args, args
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-Dfloorist.probe=1")
    assert seen["tier"] == "1"
    assert seen["serial_gc"] == "true"
