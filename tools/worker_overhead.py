"""Per-task fixed cost of Spark's Python boundary, layer by layer.

Runs four 1-partition, 4-row jobs in one session and prints the median
wall time of each over N warm repeats (after 3 unmeasured rounds), one
JSON line:

- ``jvm_count``: ``spark.range(0, 4, 1, 1).count()``, no Python worker;
- ``rdd_map``: ``sc.parallelize(range(4), 1).map(...).collect()``;
- ``map_in_pandas`` and ``map_in_arrow``: an identity UDF over the
  range, collected.

A Python job minus ``jvm_count`` is the Python-boundary time of one
task: worker hand-off, task setup and the Arrow or pickle round trip,
with a UDF that does nothing.

    python tools/worker_overhead.py [--repeats 30]

The session comes from ``session.get_spark`` of the checkout this script
is in, with ``local[4]``, so two checkouts compare by running each one's
copy of this script from its root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP = 3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=30)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from delphi_pdf_parser_spark.session import get_spark

    spark = get_spark("worker_overhead", master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    df = spark.range(0, 4, 1, 1)
    jobs = {
        "jvm_count": lambda: df.count(),
        "rdd_map": lambda: sc.parallelize(range(4), 1).map(lambda x: x + 1).collect(),
        "map_in_pandas": lambda: df.mapInPandas(lambda it: it, df.schema).collect(),
        "map_in_arrow": lambda: df.mapInArrow(lambda it: it, df.schema).collect(),
    }
    samples: dict[str, list[float]] = {name: [] for name in jobs}
    for i in range(WARMUP + args.repeats):
        for name, job in jobs.items():  # interleaved: host drift hits all alike
            t0 = time.perf_counter()
            job()
            if i >= WARMUP:
                samples[name].append(time.perf_counter() - t0)
    report = {
        "daemon_module": sc.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
        "repeats": args.repeats,
    }
    for name, xs in samples.items():
        report[f"{name}_ms"] = round(1000 * statistics.median(xs), 1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
