"""Paired CPU-time A/B of two checkouts' pdfcore on seeded bench docs.

Each checkout's ``delphi_pdf_parser_spark/pdfcore`` directory is imported
as its own top-level package (``pdfcore_a``, ``pdfcore_b``); pdfcore uses
only relative imports, so both load side by side in one process. Every
round times ``extract_text`` over all docs with ``time.process_time`` on
both sides, in shuffled order, and the report is the median over rounds
of the per-round ratio b/a. Paired ratios repeat far more tightly than
whole-benchmark wall times, which move with the host's load.

    python tools/pdfcore_ab.py PARENT_CHECKOUT CHANGE_CHECKOUT \\
        [--docs 300] [--rounds 40] [--seed 1]

The docs come from ``fixtures.bench_pdf`` of the checkout this script is
in, seeded as perfbench's extract_uniform workload seeds them (so
``--docs 3000 --seed N`` is that workload's corpus at seed N). Before
timing, the two sides' page texts, statuses and failure codes are
compared and any difference is printed; ``--rounds 0`` only compares.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import statistics
import sys
import time


def load_pdfcore(checkout: str, name: str):
    """Import ``checkout``'s pdfcore package under the module name ``name``."""
    path = os.path.join(os.path.abspath(checkout), "delphi_pdf_parser_spark", "pdfcore")
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(path, "__init__.py"), submodule_search_locations=[path]
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def bench_docs(n: int, seed: int) -> list[bytes]:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from delphi_pdf_parser_spark.fixtures import bench_pdf

    return [
        bench_pdf(seed=(seed * 1_000_003 + i) & 0x7FFFFFFF, npages=1 + i % 2)
        for i in range(n)
    ]


def result_digest(extract_text, docs: list[bytes]) -> list[str]:
    out = []
    for d in docs:
        r = extract_text(d)
        key = [r.status, r.pages, sorted(r.failures.items())]
        out.append(hashlib.sha256(json.dumps(key).encode("utf-8")).hexdigest())
    return out


def cpu_seconds(extract_text, docs: list[bytes]) -> float:
    t0 = time.process_time()
    for d in docs:
        extract_text(d)
    return time.process_time() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="checkout A (the parent)")
    ap.add_argument("b", help="checkout B (the change)")
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--rounds", type=int, default=40)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    docs = bench_docs(args.docs, args.seed)
    sides = {
        "a": load_pdfcore(args.a, "pdfcore_a").extract_text,
        "b": load_pdfcore(args.b, "pdfcore_b").extract_text,
    }
    da, db = (result_digest(sides[k], docs) for k in "ab")
    diff = [i for i, (x, y) in enumerate(zip(da, db)) if x != y]
    print(f"docs={len(docs)} output_diffs={len(diff)} {diff[:10]}")
    if args.rounds <= 0:
        return 1 if diff else 0
    for f in sides.values():  # warm font memo and caches on both sides
        cpu_seconds(f, docs[:20])

    rng = random.Random(args.seed)
    per = {"a": [], "b": []}
    ratios = []
    for _ in range(args.rounds):
        order = ["a", "b"]
        rng.shuffle(order)
        t = {}
        for k in order:
            t[k] = cpu_seconds(sides[k], docs)
            per[k].append(t[k] / len(docs) * 1e3)
        ratios.append(t["b"] / t["a"])
    q = statistics.quantiles(ratios, n=4)
    print(
        f"cpu_ms_per_doc a={statistics.median(per['a']):.3f} "
        f"b={statistics.median(per['b']):.3f}"
    )
    print(
        f"paired_ratio_b_over_a median={statistics.median(ratios):.3f} "
        f"q1={q[0]:.3f} q3={q[2]:.3f} b_faster_rounds={sum(r < 1 for r in ratios)}/{len(ratios)}"
    )
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
