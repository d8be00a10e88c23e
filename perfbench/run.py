"""Benchmark of floorist cron runs: each is a new process that builds
``FlooristSpark(config)`` and calls ``FlooristSpark.run()`` once on a
generated floorplan, and every output file is checked afterwards.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload jdbc_snapshot --seed 1 --seconds 30 --trace 0

Cron runs are made until ``--seconds`` of measured time (set-up plus run)
are spent, and at least ``MIN_RUNS`` of them. With ``--trace 0`` they are
untraced and the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are traced and the metrics are its per-layer ones. The
last line on stdout is one JSON object with ``correct``, ``attempted``
(dumps attempted over all cron runs), ``failed`` (dumps whose output failed
the checker, or that the runner reported failed) and ``metrics``, medians
over the cron runs. Every figure, the per-run noise record
(nproc, SPARK_GRAFT_CPUS, host CPU steal) and the trace spans are also written
to ``perfbench/_results/<workload>-s<seed>-t<trace>.json``.

The inputs are generated from the seed inside the checkout; the engine runs
in child processes with the repository on PYTHONPATH, ``local[nproc]``, the
production runner in sequential parity mode and a pinned run date.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from worker import steal_s  # noqa: E402

#: A run must end within 180 s; leave room for the parent's own work.
DEADLINE_S = 165
#: Cron runs per benchmark run at the least, so that every median has
#: several samples.
MIN_RUNS = 2


def child_env(work: str, workload) -> dict[str, str]:
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("FLOORIST_", "AWS_", "POSTGRES")) and k not in ("SPARK_MASTER", "PYTHONPATH")
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": REPO,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "FLOORPLAN_FILE": os.path.join(work, "floorplan.yaml"),
            "FLOORIST_OUTPUT_URI": "file://" + os.path.join(work, "out"),
            "FLOORIST_RUN_DATE": workloads.RUN_DATE.isoformat(),
            "FLOORIST_MODE": workload.mode,
            "LOGLEVEL": "WARNING",
            "TZ": "UTC",
            # keep every file the engine, its JVM and Derby write inside the checkout
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    if workload.mode == "jdbc":
        env.update(
            {
                "FLOORIST_JDBC_URL": workloads.DERBY_URL,
                "FLOORIST_JDBC_DRIVER": workloads.DERBY_DRIVER,
                "POSTGRESQL_USER": "APP",
            }
        )
    else:
        env["FLOORIST_DATA_DIR"] = workload.data_dir
    return env


def prepare(name: str, seed: int, work: str, scale: float = 1.0):
    """Generate workload ``name`` under ``work``; returns it with the worker's
    environment."""
    workload = workloads.build(name, seed, work, scale)
    workload.save(os.path.join(work, "workload.json"))
    workload.write_floorplan(os.path.join(work, "floorplan.yaml"))
    return workload, child_env(work, workload)


def cron_run(work: str, env: dict, index: int, mode: str, deadline: float) -> dict:
    """One cron run in a new worker process, on an empty output directory;
    returns its record. ``mode`` is ``run`` or ``trace`` (see worker.py)."""
    out = os.path.join(work, "out")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_worker([work, str(index), mode], env, work, deadline)
    with open(os.path.join(work, f"run-{index}.json")) as fh:
        return json.load(fh)


def run_worker(args: list[str], env: dict, work: str, deadline: float) -> None:
    """Run ``worker.py args`` in its own process group and wait for the whole
    group (the JVM and Python workers included) to end."""
    log = os.path.join(work, "worker.log")
    with open(log, "a") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env,
            cwd=work,
            stdout=fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")


def _stop_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    """True while a process of the group is still running (zombies are
    ended processes waiting to be reaped)."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_to_end(runs: list[dict]) -> dict[str, float]:
    out = {k: statistics.median([r[k] for r in runs]) for k in ("setup_s", "setup_cpu_s", "run_s", "cpu_s")}
    out["bytes_per_row"] = statistics.median([r["bytes"] / r["rows"] for r in runs])
    return out


def _per_layer(runs: list[dict]) -> dict[str, float]:
    names = sorted({k for r in runs for k in r["layers"]})
    out = {k: statistics.median([r["layers"][k] for r in runs if k in r["layers"]]) for k in names}
    # the JVM's peak follows its garbage collector's timing more than the
    # work: too noisy to gate (see README.md), so it is reported here
    out["peak_rss_mb"] = statistics.median([r["peak_rss_mb"] for r in runs])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped benchmark still stops the worker's process group (run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(REPO, "floorist_spark", "runner.py")):
        print(f"perfbench: no floorist_spark package next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, REPO)
    start = time.monotonic()
    deadline = start + DEADLINE_S
    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runs: list[dict] = []
    try:
        workload, env = prepare(args.workload, args.seed, work)
        generate_s = time.monotonic() - start
        nproc = len(os.sched_getaffinity(0))
        steal0 = steal_s()
        spent, longest = 0.0, 0.0
        while len(runs) < MIN_RUNS or (spent < args.seconds and time.monotonic() + longest < deadline):
            t0 = time.monotonic()
            rec = cron_run(work, env, len(runs) + 1, "trace" if args.trace else "run", deadline)
            longest = max(longest, time.monotonic() - t0)
            runs.append(rec)
            spent += rec["setup_s"] + rec["run_s"]
    except (RuntimeError, OSError) as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(workload.dumps) * len(runs)
    failed = sum(r["failed"] for r in runs)
    metrics = _per_layer(runs) if args.trace else _end_to_end(runs)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "noise": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "host_steal_s": steal_s() - steal0,
            "generate_s": generate_s,
            "wall_s": time.monotonic() - start,
        },
        "runs": runs,
        "dump_fail_ratio": failed / attempted,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
    with open(os.path.join(HERE, "_results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    problems = [p for r in runs for p in r["problems"]]
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}")
    print(f"{args.workload} seed={args.seed}: {len(runs)} cron runs, "
          f"dump_fail_ratio={failed / attempted:.4f} ({failed}/{attempted})")
    for k in sorted(metrics):
        print(f"  {k:34s} {metrics[k]:.6g}")
    out = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
