"""Self-test of the benchmark: each workload once at a small scale.

    python3 perfbench/selftest.py

For every workload it makes one cron run through the same worker the
benchmark uses, asserts that the output checker passes on the real output,
and then that the checker rejects a corrupted copy: one chunk file deleted
and one value altered in one row. Where no dump spans several files at the
small scale, the chunksize of the largest chunked dump is cut so that one
does. Exits 0 when every assertion holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import run
import workloads
from check import check_dump, data_files, digest

SCALE = 0.05
SEED = 7


def _alter_one_row(path: str) -> None:
    """Change the first integer or string value of the file's first row."""
    table = pq.read_table(path)
    for i, field in enumerate(table.schema):
        if pa.types.is_integer(field.type) or pa.types.is_string(field.type):
            values = table.column(i).to_pylist()
            values[0] = (values[0] or 0) + 1 if pa.types.is_integer(field.type) else (values[0] or "") + "x"
            table = table.set_column(i, field, pa.array(values, field.type))
            pq.write_table(table, path, compression="gzip")
            return
    raise AssertionError(f"no integer or string column to alter in {path}")


def _split_one_dump(wl: workloads.Workload, work: str) -> workloads.Dump:
    """A dump that spans several files; shrinks a chunksize when none does."""
    chunked = [d for d in wl.dumps if d.chunksize and d.rows > 1]
    multi = [d for d in chunked if d.rows > d.chunksize]
    if multi:
        return multi[0]
    d = max(chunked, key=lambda d: d.rows)
    print(f"{wl.name}: no dump spans several files at scale {SCALE}; chunksize of {d.prefix} "
          f"cut from {d.chunksize} to {(d.rows + 2) // 3} ({d.rows} rows)")
    d.chunksize = (d.rows + 2) // 3
    wl.save(os.path.join(work, "workload.json"))
    wl.write_floorplan(os.path.join(work, "floorplan.yaml"))
    return d


def selftest(name: str) -> list[str]:
    """Assertions that failed for workload ``name``."""
    failures = []
    work = os.path.join(run.HERE, "_work", f"selftest-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        wl, env = run.prepare(name, SEED, work, SCALE)
        split = _split_one_dump(wl, work)
        rec = run.cron_run(work, env, 0, "run", time.monotonic() + run.DEADLINE_S)
        if rec["problems"] or rec["failed"]:
            return [f"{name}: checker rejected real output: {rec['problems']}"]

        out = os.path.join(work, "out")
        victim = data_files(os.path.join(out, split.prefix))[-1]
        os.remove(os.path.join(out, split.prefix, victim))
        if not check_dump(out, split, workloads.RUN_DATE):
            failures.append(f"{name}: checker accepted {split.prefix} with a chunk file deleted")
        # another dump than the one already broken above
        d = [d for d in wl.dumps if d.rows and d is not split][-1]
        _alter_one_row(os.path.join(out, d.prefix, data_files(os.path.join(out, d.prefix))[0]))
        if not check_dump(out, d, workloads.RUN_DATE):
            failures.append(f"{name}: checker accepted {d.prefix} with one row altered")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return failures


def main() -> int:
    sys.path.insert(0, run.REPO)
    t = pa.table({"a": [1, 2, 3], "b": ["x", None, "z"]})
    failures = [] if digest(t) == digest(t.take([2, 0, 1])) else ["digest depends on row order"]
    for name in workloads.WORKLOADS:
        found = selftest(name)
        print(f"{name}: {'ok' if not found else 'FAILED'}")
        failures += found
    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
