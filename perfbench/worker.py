"""One cron run of the benchmark, started by ``run.py`` in a fresh process.

``worker.py WORK_DIR INDEX MODE`` does what one cron invocation does: it
builds ``FlooristSpark(config)`` from the environment, which launches the
JVM, and calls ``FlooristSpark.run()`` once on the floorplan. For the jdbc
workload the seeded table is loaded into embedded Derby between the two,
untimed. The output checker runs afterwards, outside the timed window.
MODE ``trace`` makes the layers' public calls spans and executes every
dump's DataFrame once more into the ``noop`` sink after the run; MODE
``run`` does neither.

The record goes to WORK_DIR/run-INDEX.json.
"""

from __future__ import annotations

import json
import logging
import os
import sys
import time
from urllib.parse import urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import check_dump, output_bytes  # noqa: E402
from spans import Tracer, span_cost_s  # noqa: E402
from workloads import DERBY_DRIVER, DERBY_TABLE, DERBY_URL, RUN_DATE, Workload  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc readings ------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are positional
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and Python workers)."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                parent[int(name)] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        f = _stat(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int) -> float:
    """VmHWM of the Python driver plus its JVM."""
    pids = [root] + [p for p in process_tree(root)[1:] if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def steal_s() -> float:
    """Host-wide CPU steal so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


# -- engine --------------------------------------------------------------------


def build_engine(workload: Workload, tracer: Tracer | None = None):
    """``FlooristSpark(config)`` from the environment; returns (engine,
    seconds). With a tracer, the session, view-registration and verify calls
    are spans."""
    from floorist_spark import runner
    from floorist_spark.config import get_config
    from floorist_spark.storage import StorageClient

    config = get_config(mode=workload.mode)
    if tracer is not None:
        tracer.wrap(runner, "get_spark", "session.get_spark")
        tracer.wrap(runner, "register_views", "session.register_views")
        tracer.wrap(StorageClient, "verify", "storage.verify")
    t0 = time.perf_counter()
    try:
        if tracer is not None:
            engine = tracer.call("runner.FlooristSpark", runner.FlooristSpark, config)
        else:
            engine = runner.FlooristSpark(config)
    finally:
        if tracer is not None:
            tracer.restore()
    return engine, time.perf_counter() - t0


def load_derby(spark, workload: Workload):
    """Create the seeded table in embedded Derby inside the driver JVM (the
    local-mode JDBC reads resolve the same in-memory database)."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL + ";create=true")
    st = conn.createStatement()
    st.execute(workload.derby_ddl)
    st.execute(
        "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
        f"NULL, '{DERBY_TABLE}', '{workload.derby_csv}', ',', '\"', 'UTF-8', 0)"
    )
    st.close()
    return conn


class Bench:
    def __init__(self, engine, workload: Workload):
        from floorist_spark.operators import _cache

        self.engine = engine
        self.workload = workload
        self.cache = _cache
        self.out_root = urlparse(engine.config.output_uri).path
        self.sc = engine.spark.sparkContext

    def run_once(self, index: int, traced: bool) -> dict:
        tracer = Tracer(f"run{index}") if traced else None
        if tracer is not None:
            self._install(tracer)
        pid = os.getpid()
        cpu0, steal0 = tree_cpu_s(pid), steal_s()
        t0 = time.perf_counter()
        code = 0
        try:
            if tracer is not None:
                tracer.call("runner.run", self.engine.run)
            else:
                self.engine.run()
        except SystemExit as ex:  # the runner exits 1 when a dump failed
            code = ex.code if isinstance(ex.code, int) else 1
        finally:
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.restore()
        rec = {
            "index": index,
            "traced": traced,
            "run_s": wall,
            "cpu_s": tree_cpu_s(pid) - cpu0,
            "peak_rss_mb": peak_rss_mb(pid),
            "steal_s": steal_s() - steal0,
            "exit_code": code,
        }
        problems = {d.prefix: check_dump(self.out_root, d, RUN_DATE) for d in self.workload.dumps}
        failed = sum(1 for p in problems.values() if p)
        rec["failed"] = max(failed, 1 if code else 0)
        rec["problems"] = [p for ps in problems.values() for p in ps]
        rec["bytes"] = output_bytes(self.out_root)
        rec["rows"] = sum(d.rows for d in self.workload.dumps)
        if tracer is not None:
            rec["layers"], rec["dumps"] = self._layer_metrics(tracer, rec)
            rec["spans"] = tracer.spans
        return rec

    # -- tracing -----------------------------------------------------------

    def _build_span(self) -> str:
        return "jdbc.read_query" if self.workload.mode == "jdbc" else "operators.build"

    def _install(self, tracer: Tracer) -> None:
        from floorist_spark import runner

        cache, sc = self.cache, self.sc
        ex, storage = self.engine.executor, self.engine.storage
        tracer.wrap(runner, "load_floorplan", "runner.load_floorplan")
        tracer.wrap(cache, "release_caches", "runner.release_caches")
        tracer.wrap(ex, "query_runner", self._build_span())
        tracer.wrap(ex, "sleep", "executor.backoff")
        tracer.wrap(storage, "write_parquet", "storage.write_parquet", after=_record_files)
        tracer.wrap(storage, "list_parquet_files", "storage.list_parquet_files")
        tracer.wrap(storage, "write_empty_marker", "storage.write_empty_marker")
        tracer.wrap(storage, "cleanup", "storage.cleanup")

        orig_memo = cache.memo

        def memo(spark, name, sf_dir, build):
            if not tracer.active:
                return orig_memo(spark, name, sf_dir, build)
            hit = cache._MEMO.get((name, os.path.realpath(sf_dir)))
            tracer.counts["memo_hits" if hit is not None and hit[0] is spark else "memo_builds"] += 1
            return tracer.call("cache.memo", orig_memo, spark, name, sf_dir, build)

        for mod in [m for n, m in list(sys.modules.items()) if n.startswith("floorist_spark.")]:
            if getattr(mod, "memo", None) is orig_memo:
                tracer.patch(mod, "memo", memo)

        orig_execute = ex.execute

        def execute(row, dump_count):
            group = f"perfbench-{tracer.run_id}-{dump_count}"
            sc.setJobGroup(group, str(row.get("prefix")))
            try:
                ok = tracer.call("executor.execute", orig_execute, row, dump_count)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.call("trace.bookkeeping", _annotate, tracer.spans[tracer.last], dump_count, ok, group)
            return ok

        def _annotate(span, dump_count, ok, group):
            span["dump"], span["ok"] = dump_count, ok
            span["persisted"] = sc._jsc.getPersistentRDDs().size()
            status = sc.statusTracker()
            jobs = [status.getJobInfo(j) for j in status.getJobIdsForGroup(group)]
            stages = [status.getStageInfo(s) for j in jobs if j for s in j.stageIds]
            span["jobs"] = len(jobs)
            span["tasks"] = sum(s.numCompletedTasks for s in stages if s)

        tracer.patch(ex, "execute", execute)

    def _exec_pass(self) -> list[float]:
        """Execute each dump's DataFrame once into the noop sink, caches and
        memos released first: the query's own execution time, apart from
        the sink's."""
        out = []
        query_runner = self.engine.executor.query_runner
        for d in self.workload.dumps:
            self.cache.release_caches()
            self.cache.release_memos()
            df = query_runner(d.query)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
        self.cache.release_caches()
        self.cache.release_memos()
        return out

    def _layer_metrics(self, tracer: Tracer, rec: dict) -> tuple[dict, list[dict]]:
        spans = tracer.spans
        build = self._build_span()
        execs = [(i, s) for i, s in enumerate(spans) if s["name"] == "executor.execute"]
        exec_times = self._exec_pass()

        def children(i: int, name: str) -> list[dict]:
            return [s for s in spans if s["parent"] == i and s["name"] == name]

        dumps = []
        for (i, s), d, exec_s in zip(execs, self.workload.dumps, exec_times):
            writes = children(i, "storage.write_parquet")
            dumps.append(
                {
                    "dump": s["dump"],
                    "prefix": d.prefix,
                    "ok": s["ok"],
                    "execute_s": s["end"] - s["start"],
                    "attempts": len(children(i, build)),
                    "build_s": sum(c["end"] - c["start"] for c in children(i, build)),
                    "write_parquet_s": sum(c["end"] - c["start"] for c in writes),
                    "exec_s": exec_s,
                    "files": sum(c.get("files", 0) for c in writes),
                    "rows": d.rows,
                    "jobs": s["jobs"],
                    "tasks": s["tasks"],
                    "persisted": s["persisted"],
                }
            )
        n_dumps = max(len(execs), 1)
        exec_s = sum(exec_times)
        accounted = tracer.total("executor.execute") + tracer.total("runner.load_floorplan")
        write_s = tracer.total("storage.write_parquet")
        build_s = tracer.total(build)
        rows = sum(d.rows for d in self.workload.dumps)
        m = {
            "storage.write_parquet_s": write_s,
            "storage.list_parquet_files_s": tracer.total("storage.list_parquet_files"),
            "storage.list_calls": tracer.n("storage.list_parquet_files"),
            "storage.writer_overhead_s": write_s - exec_s,
            "storage.files_written": sum(d["files"] for d in dumps),
            "storage.bytes_written": rec["bytes"],
            "executor.execute_s": tracer.total("executor.execute"),
            "executor.attempts_per_dump": tracer.n(build) / n_dumps,
            "executor.useful_attempt_ratio": sum(d["ok"] for d in dumps) / max(tracer.n(build), 1),
            "executor.backoff_s": tracer.total("executor.backoff"),
            "query.build_s": build_s,
            "query.exec_s": exec_s,
            "query.rows_per_s": rows / exec_s if exec_s else 0.0,
            "cache.memo_builds": tracer.counts["memo_builds"],
            "cache.memo_hits": tracer.counts["memo_hits"],
            "cache.persisted_peak": max((d["persisted"] for d in dumps), default=0),
            "runner.release_caches_s": tracer.total("runner.release_caches"),
            "runner.load_floorplan_s": tracer.total("runner.load_floorplan"),
            "spark.jobs": sum(d["jobs"] for d in dumps),
            "spark.tasks": sum(d["tasks"] for d in dumps),
            "trace.run_s": rec["run_s"],
            "trace.bookkeeping_s": tracer.total("trace.bookkeeping"),
            "trace.overhead_s": tracer.total("trace.bookkeeping") + len(spans) * span_cost_s(),
            "trace.unaccounted_s": rec["run_s"] - accounted,
            "trace.accounted_ratio": accounted / rec["run_s"],
        }
        if self.workload.mode == "jdbc":
            m.update({"jdbc.read_query_s": build_s, "jdbc.exec_s": exec_s, "jdbc.rows_per_s": m["query.rows_per_s"]})
        else:
            m.update({"operators.build_s": build_s, "operators.exec_s": exec_s})
        for layer, t in tracer.self_time_by_layer().items():
            m[f"self.{layer}_s"] = t
        return m, dumps


def _record_files(span: dict, _args, result) -> None:
    span["files"] = result


# -- entry point ---------------------------------------------------------------


def cron_run(work: str, index: int, mode: str) -> None:
    workload = Workload.load(os.path.join(work, "workload.json"))
    pid = os.getpid()
    setup_tracer = Tracer(f"setup{index}") if mode == "trace" else None
    cpu0 = tree_cpu_s(pid)
    engine, setup_s = build_engine(workload, setup_tracer)
    setup_cpu_s = tree_cpu_s(pid) - cpu0
    derby = load_derby(engine.spark, workload) if workload.mode == "jdbc" else None
    try:
        rec = Bench(engine, workload).run_once(index, mode == "trace")
    finally:
        if derby is not None:
            derby.close()
    engine.spark.stop()
    rec["setup_s"], rec["setup_cpu_s"] = setup_s, setup_cpu_s
    if setup_tracer is not None:
        rec["layers"].update(
            {
                "session.get_spark_s": setup_tracer.total("session.get_spark"),
                "session.register_views_s": setup_tracer.total("session.register_views"),
                "storage.verify_s": setup_tracer.total("storage.verify"),
            }
        )
        rec["setup_spans"] = setup_tracer.spans
    with open(os.path.join(work, f"run-{index}.json"), "w") as fh:
        json.dump(rec, fh)


if __name__ == "__main__":
    logging.basicConfig(level=logging.WARNING, format="[%(asctime)s] [%(levelname)s] %(message)s")
    cron_run(sys.argv[1], int(sys.argv[2]), sys.argv[3])
