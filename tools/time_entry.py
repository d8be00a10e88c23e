"""Time individual catalog entries in isolation through the noop sink.

Usage::

    python tools/time_entry.py [-n RUNS] <entry> [<entry> ...]

Per guide §1.4: times the computation (noop sink), not a real sink; one
warm-up scan amortizes JVM startup; each entry labelled via
setJobDescription. Prints per-run seconds so run-to-run swing is visible.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]

    from __spark_entry__ import queries
    from floorist_spark.session import get_spark, load_table

    spark = get_spark("floorist_time_entry")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    load_table(spark, SF_DIR, "lineitem").count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 2).repartition(n).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    for name in args:
        times = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        print(
            f"{name}: "
            + " ".join(f"{t:.3f}" for t in times)
            + f"  (min {min(times):.3f})"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
