"""Paired CPU-time A/B of two checkouts' pdfcore on seeded bench docs.

Each checkout's ``delphi_pdf_parser_spark/pdfcore`` directory is imported
as its own top-level package (``pdfcore_a``, ``pdfcore_b``); pdfcore uses
only relative imports, so both load side by side in one process. Every
round times ``extract_text`` over all docs with ``time.process_time`` on
both sides, in shuffled order, and the report is the median over rounds
of the per-round ratio b/a. Paired ratios repeat far more tightly than
whole-benchmark wall times, which move with the host's load.

    python tools/pdfcore_ab.py PARENT_CHECKOUT CHANGE_CHECKOUT \\
        [--corpus bench|fixtures] [--docs 300] [--rounds 40] [--seed 1]

The docs come from the ``fixtures`` module of the checkout this script is
in. ``--corpus bench`` (the default) takes ``bench_pdf`` docs seeded as
perfbench's extract_uniform workload seeds them (so ``--docs 3000 --seed
N`` is that workload's corpus at seed N). ``--corpus fixtures`` takes the
``generate_fixtures()`` PDFs (``--docs`` does not apply): few docs, but
the only ones that reach the short-string, 2-byte CID and general
per-char text paths. Before timing, the two sides' statuses, page texts,
failure codes and metadata, their ``opcensus.op_census`` rows and their
``images.extract_images`` output (format and a SHA-256 of each payload)
are compared and any difference is printed; ``--rounds 0`` only
compares. Only ``extract_text`` is timed.
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


def corpus_docs(corpus: str, n: int, seed: int) -> list[bytes]:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from delphi_pdf_parser_spark.fixtures import bench_pdf, generate_fixtures

    if corpus == "fixtures":
        return [fx["pdf"] for _case, fx in sorted(generate_fixtures().items())]
    return [
        bench_pdf(seed=(seed * 1_000_003 + i) & 0x7FFFFFFF, npages=1 + i % 2)
        for i in range(n)
    ]


def _outcome(fn, d):
    """fn(d), or the name of the exception it raised."""
    try:
        return fn(d)
    except Exception as e:
        return type(e).__name__


def result_digest(pdfcore, docs: list[bytes]) -> list[str]:
    op_census = importlib.import_module(pdfcore.__name__ + ".opcensus").op_census
    extract_images = importlib.import_module(pdfcore.__name__ + ".images").extract_images
    out = []
    for d in docs:
        r = pdfcore.extract_text(d)
        images = _outcome(extract_images, d)
        if isinstance(images, list):
            images = [[im.format, hashlib.sha256(im.data).hexdigest()] for im in images]
        key = [
            r.status, r.pages, sorted(r.failures.items()), r.metadata,
            _outcome(op_census, d), images,
        ]
        blob = json.dumps(key, sort_keys=True)
        out.append(hashlib.sha256(blob.encode("utf-8")).hexdigest())
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
    ap.add_argument("--corpus", choices=("bench", "fixtures"), default="bench")
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--rounds", type=int, default=40)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    docs = corpus_docs(args.corpus, args.docs, args.seed)
    pdfcores = {"a": load_pdfcore(args.a, "pdfcore_a"), "b": load_pdfcore(args.b, "pdfcore_b")}
    da, db = (result_digest(pdfcores[k], docs) for k in "ab")
    sides = {k: m.extract_text for k, m in pdfcores.items()}
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
