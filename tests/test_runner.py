"""F11/F14 end-to-end: floorplan → Catalyst → partitioned gzip parquet on a
local FS sink, with the reference's isolation/exit-code/log contract
(`/root/reference/tests/test_floorist.py:153-220`)."""

from __future__ import annotations

import json
import logging
import os
import re
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
    # every <name>.parquet in FLOORIST_DATA_DIR is a view, whatever its name;
    # an events table without ts is read as it is, not normalized
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = {
        "invoices": {"id": [1, 2, 3], "amount": [9.5, 0.25, 4.0]},
        "events": {"id": [1, 2], "kind": ["click", "view"]},
    }
    data = tmp_path / "data"
    data.mkdir()
    for name, columns in tables.items():
        pq.write_table(pa.table(columns), data / f"{name}.parquet")
    plan = "".join(f"- prefix: exports/{name}\n  query: SELECT * FROM {name}\n" for name in tables)
    runner, out = runner_factory(plan, data_dir=str(data))
    runner.run()
    for name, columns in tables.items():
        rows = spark.read.parquet(f"file://{_day_dir(out, f'exports/{name}')}").collect()
        assert sorted(tuple(r) for r in rows) == sorted(zip(*columns.values()))


def _fresh_python(code: str, cwd, env: dict[str, str], submit: bool = False) -> tuple[str, str]:
    """Run ``code`` in a new interpreter and return its (stdout, stderr).

    The test session's JVM already exists, so a JVM that ``get_spark`` or
    ``FlooristSpark`` launches can only be seen from a fresh process. The
    child starts without the suite's ``FLOORIST_*``, ``SPARK_MASTER`` and
    ``SPARK_GRAFT_CPUS``, with ``env`` on top. With ``submit``, Spark's
    ``spark-submit`` launches the JVM first and then runs ``code`` as its
    Python driver. Output is decoded without newline translation, so a bare
    carriage return stays visible."""
    base = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("FLOORIST_") and k not in ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "PYTHONPATH")
    }
    base.update(PYTHONPATH=REPO, SPARK_GRAFT_WAREHOUSE=str(cwd / "warehouse"))
    argv = [sys.executable, "-c", textwrap.dedent(code)]
    if submit:
        from pyspark.find_spark_home import _find_spark_home

        (cwd / "probe.py").write_text(textwrap.dedent(code))
        argv = [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--master", "local[1]", "probe.py"]
        base["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        argv,
        env={**base, **env},
        cwd=cwd,
        capture_output=True,
        timeout=300,
    )
    stdout, stderr = proc.stdout.decode(), proc.stderr.decode()
    assert proc.returncode == 0, stderr[-4000:]
    return stdout, stderr


@pytest.fixture(scope="module")
def cron_run(tmp_path_factory):
    """One cron run in a fresh process: ``main()``'s steps, with the JVM's
    launch arguments and profile printed between start-up and the run.
    The deployment's ``spark-defaults.conf`` adds its own JVM option. The
    dump sleeps 1.5 s in its task, longer than the 0.5 s after which
    Spark's console progress bar would draw a stage. The dump's SQL is
    constant, so an empty data dir makes it a native run with no
    database."""
    tmp = tmp_path_factory.mktemp("cron")
    conf_dir = tmp / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.driver.extraJavaOptions -Dfloorist.probe=1\n")
    (tmp / "out").mkdir()
    (tmp / "data").mkdir()
    (tmp / "floorplan.yaml").write_text(
        "- prefix: exports/slow\n  query: SELECT reflect('java.lang.Thread', 'sleep', 1500L) AS slept\n"
    )
    probe = """
        import json
        from floorist_spark.config import get_config
        from floorist_spark.runner import FlooristSpark, _configure_loglevel

        _configure_loglevel()
        engine = FlooristSpark(get_config())
        jvm = engine.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory
        diag = mx.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        print(json.dumps({
            "args": list(mx.getRuntimeMXBean().getInputArguments()),
            "tier": diag.getVMOption("TieredStopAtLevel").getValue(),
            "serial_gc": diag.getVMOption("UseSerialGC").getValue(),
        }))
        engine.run()
        """
    env = {
        "SPARK_CONF_DIR": str(conf_dir),
        "XDG_CACHE_HOME": str(tmp / "cache"),
        "FLOORIST_OUTPUT_URI": f"file://{tmp / 'out'}",
        "FLOORIST_DATA_DIR": str(tmp / "data"),
        "FLOORPLAN_FILE": str(tmp / "floorplan.yaml"),
    }
    stdout, stderr = _fresh_python(probe, tmp, env)
    seen = json.loads(stdout.strip().splitlines()[-1])
    seen["cache"] = [str(p.relative_to(tmp)) for p in (tmp / "cache").rglob("*")]
    return seen, stderr


def test_cron_jvm_profile_reaches_jvm_before_deployment_options(cron_run):
    seen, _ = cron_run
    args = seen["args"]
    assert "-XX:TieredStopAtLevel=1" in args and "-Dfloorist.probe=1" in args, args
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-Dfloorist.probe=1")
    assert seen["tier"] == "1"
    assert seen["serial_gc"] == "true"


def test_deployment_conf_dir_launches_without_class_archive(cron_run):
    # a conf dir with a spark-defaults.conf stays on the classpath, where
    # JDK 17 shares no class: no archive option, and nothing is cached
    seen, _ = cron_run
    assert _cds_args(seen) == [], seen["args"]
    assert seen["cache"] == []


#: one record of the run's own log (``runner.LOG_FMT``)
_RECORD = re.compile(r"\[\d{4}-\d\d-\d\d \d\d:\d\d:\d\d,\d{3}\] \[[A-Z]+\] ")


def _records(stderr: str) -> list[str]:
    return [line for line in stderr.split("\n") if _RECORD.search(line)]


def test_cron_run_log_has_no_progress_bar(cron_run):
    _, stderr = cron_run
    assert "[Stage" not in stderr, stderr[-2000:]
    # every record of the run's own log starts its own line with "["
    records = _records(stderr)
    assert records and all(_RECORD.match(line) for line in records), records
    assert any(line.endswith("Dumped 1 from total of 1") for line in records), records


def test_cron_run_log_ends_with_the_run_summary(cron_run):
    # py4j's own INFO records (its connection bookkeeping at interpreter
    # exit) stay out of the run's log, so the summary is the last record
    records = _records(cron_run[1])
    assert records[-1].endswith("Dumped 1 from total of 1"), records
    assert not any("clientserver" in line for line in records), records


def test_session_sizes_itself_from_the_jvm(tmp_path):
    # pinned to one CPU without SPARK_GRAFT_CPUS, the JVM's own count sizes
    # the session; SPARK_GRAFT_CPUS still wins, and so does an extra_conf
    # shuffle-partition value. A stopped session leaves the JVM running, so
    # the three sessions share one JVM launch, with the cron profile. The
    # child pins itself: a preexec_fn would run after fork in this threaded
    # test process.
    probe = """
        import json, os
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
        from floorist_spark.runner import CRON_JVM_CONF
        from floorist_spark.session import get_spark

        def sized(spark):
            return [spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions")]

        spark = get_spark("sizing", extra_conf=CRON_JVM_CONF)
        seen = {"jvm": sized(spark)}
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        spark = get_spark("sizing")
        seen["env"] = sized(spark)
        seen["extra_conf"] = sized(get_spark("sizing", extra_conf={"spark.sql.shuffle.partitions": "7"}))
        spark.stop()
        print(json.dumps(seen))
        """
    stdout, _ = _fresh_python(probe, tmp_path, {})
    seen = json.loads(stdout.strip().splitlines()[-1])
    assert seen == {"jvm": [1, "1"], "env": [2, "2"], "extra_conf": [2, "7"]}


#: A cron run that prints its JVM's launch arguments and the archives that
#: JVM maps, then runs the floorplan and prints its exit code.
ARCHIVE_PROBE = """
    import json
    from floorist_spark.config import get_config
    from floorist_spark.runner import FlooristSpark, _configure_loglevel

    _configure_loglevel()
    engine = FlooristSpark(get_config())
    jvm = engine.spark._jvm
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") as fh:
        seen = {"mapped": sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})}
    seen["args"] = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    try:
        engine.run()
        seen["code"] = 0
    except SystemExit as ex:
        seen["code"] = ex.code
    print(json.dumps(seen))
    """

ARCHIVE_PLAN = """
- prefix: exports/series
  query: SELECT id, id * 3 AS tripled FROM range(0, 2500)
- prefix: exports/bad
  query: SELECT FROM nonsense syntax(
"""


def _archive_run(tmp, cache, out: str) -> tuple[dict, str]:
    """One cron run of ``ARCHIVE_PLAN`` with ``cache`` as ``XDG_CACHE_HOME``,
    a conf dir that holds only a template, and ``out`` as its output."""
    conf_dir = tmp / "conf"
    conf_dir.mkdir(exist_ok=True)
    (conf_dir / "spark-defaults.conf.template").write_text("# spark.master  local[2]\n")
    (tmp / "data").mkdir(exist_ok=True)
    (tmp / "floorplan.yaml").write_text(ARCHIVE_PLAN)
    (tmp / out).mkdir()
    env = {
        "SPARK_CONF_DIR": str(conf_dir),
        "XDG_CACHE_HOME": str(cache),
        "FLOORIST_OUTPUT_URI": f"file://{tmp / out}",
        "FLOORIST_DATA_DIR": str(tmp / "data"),
        "FLOORPLAN_FILE": str(tmp / "floorplan.yaml"),
        "FLOORIST_RUN_DATE": "2026-01-02",
    }
    stdout, stderr = _fresh_python(ARCHIVE_PROBE, tmp, env)
    return json.loads(stdout.strip().splitlines()[-1]), stderr


def _series_rows(tmp, out: str) -> list[tuple]:
    import pyarrow.parquet as pq

    day = tmp / out / "exports/series/year_created=2026/month_created=1/day_created=2"
    return sorted(zip(*pq.read_table(day).to_pydict().values()))


@pytest.fixture(scope="module")
def archive_runs(tmp_path_factory):
    """Three cron runs on a cache that holds an older key's archive and
    mark and another trainer's live class list: the first leaves its key's
    mark, the second trains the class-data archive, the third maps it.
    Each run's record holds the files of the cache after it."""
    tmp = tmp_path_factory.mktemp("archive")
    cache = tmp / "cache/floorist_spark"
    cache.mkdir(parents=True)
    for other in (OLD_ARCHIVE, OLD_MARK, LIVE_CLASS_LIST):
        (cache / other).write_text("other")
    runs = []
    for out in ("out1", "out2", "out3"):
        seen, stderr = _archive_run(tmp, tmp / "cache", out)
        seen["cache"] = sorted(p.name for p in cache.iterdir())
        seen["rows"] = _series_rows(tmp, out)
        runs.append((seen, stderr))
    return tmp, runs


OLD_ARCHIVE, OLD_MARK = "0123456789abcdef.jsa", "0123456789abcdef.seen"
LIVE_CLASS_LIST = "fedcba9876543210.jsa.1.classlist"


def _cds_args(seen: dict) -> list[str]:
    return [a for a in seen["args"] if "SharedArchiveFile" in a or "DumpLoadedClassList" in a]


def test_first_cron_run_of_a_key_only_leaves_its_mark(archive_runs):
    # a cache that does not outlive its run (a fresh container) never pays
    # for a dump: the first run launches as before
    _, [(first, _), *_] = archive_runs
    assert _cds_args(first) == [], first["args"]
    [mark] = [n for n in first["cache"] if n.endswith(".seen") and n != OLD_MARK]
    assert re.fullmatch(r"[0-9a-f]{16}\.seen", mark), first["cache"]
    assert first["cache"] == sorted([OLD_ARCHIVE, OLD_MARK, LIVE_CLASS_LIST, "conf", mark])
    assert first["code"] == 1  # the bad dump still fails the run


def test_second_cron_run_trains_one_keyed_archive(archive_runs):
    # the older key's archive and mark go, and so does this key's mark;
    # another trainer's class list stays
    _, [(first, _), (second, _), _] = archive_runs
    [class_list] = [a.split("=", 1)[1] for a in second["args"] if a.startswith("-XX:DumpLoadedClassList=")]
    key = os.path.basename(class_list).split(".")[0]
    assert f"{key}.seen" in first["cache"], (class_list, first["cache"])
    assert second["cache"] == sorted([LIVE_CLASS_LIST, "conf", f"{key}.jsa"])
    assert second["code"] == 1


def test_third_cron_run_maps_the_archive(archive_runs):
    tmp, [(first, _), (second, _), (third, _)] = archive_runs
    [archive] = [str(tmp / "cache/floorist_spark" / n) for n in second["cache"] if n.endswith(".jsa")]
    assert _cds_args(third) == [f"-XX:SharedArchiveFile={archive}"], third["args"]
    assert third["mapped"] == [archive]
    assert third["cache"] == second["cache"]
    assert third["code"] == 1
    assert third["rows"] == second["rows"] == first["rows"] == [(i, 3 * i) for i in range(2500)]


def test_cron_runs_that_train_and_map_keep_a_clean_log(archive_runs):
    _, [_, *runs] = archive_runs
    for _, stderr in runs:
        assert "[cds]" not in stderr and "[warning]" not in stderr, stderr[-2000:]
        assert _records(stderr)[-1].endswith("Dumped 1 from total of 2"), _records(stderr)


def test_unwritable_cache_runs_without_archive(tmp_path):
    # a cache that cannot be made (its parent is a file) leaves the launch,
    # the exit code and the outputs as they are without an archive
    blocked = tmp_path / "not_a_dir"
    blocked.write_text("")
    seen, _ = _archive_run(tmp_path, blocked, "out")
    assert _cds_args(seen) == [], seen["args"]
    assert seen["code"] == 1
    assert _series_rows(tmp_path, "out") == [(i, 3 * i) for i in range(2500)]
    assert blocked.read_text() == ""


def test_read_only_cache_maps_an_archive_it_holds(tmp_path, monkeypatch):
    # a pod that runs under another uid, or with a read-only root, can
    # still map an archive baked into its cache; without one it launches
    # as before. Root passes every permission check, so the read-only
    # directory is simulated.
    from floorist_spark.runner import ClassArchive

    (tmp_path / "conf").mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    assert ClassArchive.for_launch() is None  # leaves the mark
    trainer = ClassArchive.for_launch()
    assert trainer.java_options().startswith("-XX:DumpLoadedClassList=")

    def read_only(*args, **kwargs):
        raise PermissionError("read-only")

    monkeypatch.setattr(os, "makedirs", read_only)
    monkeypatch.setattr(os, "access", lambda *args: False)
    assert ClassArchive.for_launch() is None
    open(trainer.path, "wb").close()
    assert ClassArchive.for_launch().java_options() == f"-XX:SharedArchiveFile={trainer.path} -Xlog:cds=off"


@pytest.mark.parametrize("earlier", ["session", "spark-submit"])
def test_launch_with_a_jvm_already_running_skips_the_archive(tmp_path, earlier):
    # a session built earlier in the process, or spark-submit, owns the
    # JVM, so its launch options are fixed: even with this key's mark,
    # which would make a new launch train, nothing is recorded, dumped or
    # hooked at exit
    (tmp_path / "conf").mkdir()
    (tmp_path / "data").mkdir()
    (tmp_path / "out").mkdir()
    (tmp_path / "floorplan.yaml").write_text("- prefix: exports/one\n  query: SELECT 1 AS x\n")
    probe = f"""
        import json
        from floorist_spark.config import get_config
        from floorist_spark.runner import ClassArchive, FlooristSpark, _configure_loglevel
        from floorist_spark.session import get_spark

        _configure_loglevel()
        assert ClassArchive.for_launch() is None  # leaves the mark
        if {earlier == "session"}:
            get_spark("earlier")
        engine = FlooristSpark(get_config())
        mx = engine.spark._jvm.java.lang.management.ManagementFactory
        print(json.dumps({{"args": list(mx.getRuntimeMXBean().getInputArguments())}}))
        engine.run()
        """
    env = {
        "SPARK_CONF_DIR": str(tmp_path / "conf"),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "FLOORIST_OUTPUT_URI": f"file://{tmp_path / 'out'}",
        "FLOORIST_DATA_DIR": str(tmp_path / "data"),
        "FLOORPLAN_FILE": str(tmp_path / "floorplan.yaml"),
    }
    stdout, stderr = _fresh_python(probe, tmp_path, env, submit=earlier == "spark-submit")
    # spark-submit hands the Python driver's stdout and stderr to its JVM,
    # which writes both, among its own lines, to its stdout
    output = stdout + stderr
    [seen] = [json.loads(line) for line in output.splitlines() if line.startswith('{"args"')]
    assert _cds_args(seen) == [], seen["args"]
    assert "Traceback" not in output and "Class-data" not in output, output[-2000:]
    assert _records(output)[-1].endswith("Dumped 1 from total of 1"), _records(output)
    cache = sorted(p.name for p in (tmp_path / "cache/floorist_spark").iterdir())
    assert len(cache) == 2 and cache[0] == "conf" and cache[1].endswith(".seen"), cache
