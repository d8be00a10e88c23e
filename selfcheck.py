"""Local mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() twin side-by-side, compare rows/schema/values.

Usage: python selfcheck.py [prefix ...]   (e.g. `python selfcheck.py d s t e`)

Staleness guard: a FULL all-green sweep stamps the testdata mtimes it ran
against (.verify_stamp.json, per scale dir). On startup, every stamped
scale whose files changed since its stamp is called out — "the sweep was
green" claims silently rot when the harness regenerates the parquet
inputs (round 3 lost its bench to exactly that: events.ts encoding
changed under a green stamp)."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
STAMP_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".verify_stamp.json")


def _testdata_mtimes(sf_dir: str) -> dict[str, float]:
    try:
        return {
            f: os.path.getmtime(os.path.join(sf_dir, f))
            for f in sorted(os.listdir(sf_dir))
            if f.endswith(".parquet")
        }
    except OSError:
        return {}


def check_stamps() -> list[str]:
    """Scales whose testdata changed since their last all-green sweep."""
    try:
        with open(STAMP_FILE) as fh:
            stamps = json.load(fh)
    except (OSError, ValueError):
        return []
    return [
        d for d, rec in stamps.items() if _testdata_mtimes(d) != rec["mtimes"]
    ]


def write_stamp(sf_dir: str) -> None:
    try:
        with open(STAMP_FILE) as fh:
            stamps = json.load(fh)
    except (OSError, ValueError):
        stamps = {}
    stamps[sf_dir] = {"mtimes": _testdata_mtimes(sf_dir), "at": time.time()}
    with open(STAMP_FILE, "w") as fh:
        json.dump(stamps, fh, indent=1, sort_keys=True)


def main() -> int:
    prefixes = tuple(sys.argv[1:])
    for stale in check_stamps():
        print(
            f"  WARNING: testdata under {stale} changed since its last "
            "all-green sweep — re-run the full selfcheck there before "
            "trusting prior claims"
        )
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from floorist_spark.session import get_spark, parquet_tables
    from tests.oracle_compare import check_type_parity, compare_results

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in parquet_tables(SF_DIR):
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs, oracles = queries(), oracle_sql()
    failed = []
    for name, fn in qs.items():
        if prefixes and not name.startswith(prefixes):
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            # round-10 rule: every entry carries an oracle (q07, the last
            # rows-only holdout, now emits deterministic derived columns)
            assert name in oracles, f"{name} has no oracle_sql() twin"
            # round-8 rule: native oracle types must be hash-compatible
            # (no HUGEINT; integer-vs-floating parity) — the pandas value
            # compare below can't see this class of driver red
            check_type_parity(con.sql(oracles[name]), df.schema, name)
            sp = df.toPandas()
            du = con.execute(oracles[name]).fetchdf()
            compare_results(sp, du, name)
            print(f"  {name}: OK ({len(sp)} rows) [{time.time()-t0:.1f}s]")
        except Exception as e:
            failed.append(name)
            msg = str(e).split("\n")[0][:300]
            print(f"  {name}: FAIL {type(e).__name__}: {msg}")
            if os.environ.get("SELFCHECK_TB"):
                traceback.print_exc()

    # entry N's build released entry N-1's caches; free the final one too
    # (and the session-lifetime memos — the shared dedup signature chain),
    # then assert the sweep left executor memory clean
    from floorist_spark.operators._cache import release_caches, release_memos

    release_caches()
    release_memos()
    leftover = spark.sparkContext._jsc.getPersistentRDDs().size()
    if leftover:
        failed.append(f"cache-leak({leftover})")
        print(f"  cache-leak: {leftover} persisted RDDs survived the sweep")
    if not failed and not prefixes:
        write_stamp(SF_DIR)  # full sweep, all green: stamp what it saw
    print(f"\n{'FAILED: ' + ', '.join(failed) if failed else 'ALL OK'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
