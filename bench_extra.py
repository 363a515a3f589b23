"""Round-8 optimization harness (bench.py is FROZEN for measurement —
this file holds the extra instrumentation the optimization round needs).

Modes:
  python bench_extra.py --time [--queries a,b,c] [--repeats 3]
      per-query noop-sink timing (guide section 1.4): cold + N warm runs,
      one JSON line per query. Unlike bench.py's .count() this computes
      every column of every row.
  python bench_extra.py --count-time [...]
      same protocol as bench.py (df.count()), for apples-to-apples
      comparison with the frozen driver bench.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES  # noqa: E402


def _spark():
    from delphi_pdf_parser_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(
        "bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"),
    )
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--count-time", action="store_true")
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    names = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        or list(BENCH_QUERIES)
    )
    import __spark_entry__ as entry

    qs = entry.queries()
    spark = _spark()
    sc = spark.sparkContext

    if args.time or args.count_time:
        for name in names:
            if name not in qs:
                continue
            sc.setJobDescription(f"r8:{name}")
            samples = []
            for i in range(args.repeats + 1):
                df = qs[name](spark, args.sf_dir)
                t0 = time.perf_counter()
                if args.count_time:
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
            print(
                json.dumps(
                    {
                        "query": name,
                        "cold": samples[0],
                        "warm_min": min(samples[1:]),
                        "samples": samples,
                    }
                )
            )
    spark.stop()


if __name__ == "__main__":
    main()
