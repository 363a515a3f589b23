"""Pinned page text of the content-stream hot path (lexer, interpreter,
text device) on seeded document sets.

perfbench checks Spark output against single-process extraction from the
same checkout, so it cannot see a change in the extracted text itself;
these digests were taken from the implementation before the run-level
lexer and segment text runs, and every later version must reproduce them.

Regenerate (only for an intended text change) with
``PYTHONPATH=. python tests/test_hotpath_golden.py > tests/hotpath_golden.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

from delphi_pdf_parser_spark.fixtures import bench_pdf, simple_doc
from delphi_pdf_parser_spark.pdfcore import extract_text

from test_fastpath_parity import _random_doc

_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hotpath_golden.json")


def _skewed_doc(seed: int) -> bytes:
    """Long strings under a skewed text matrix (tm.c != 0, so Ts moves
    glyphs along x too) with Ts/Tc/Tw changing between strings of one
    run."""
    rng = random.Random(seed)
    ops = ["BT /F1 %g Tf" % rng.choice([9, 11, 12])]
    for _ in range(rng.randint(4, 12)):
        c = rng.choice([0, 0.25, -0.4, 1])
        ops.append(f"1 0 {c} 1 {rng.randint(40, 300)} {rng.randint(100, 700)} Tm")
        for _ in range(rng.randint(1, 4)):
            ops.append(f"{rng.choice([0, 0, 3, -6, 12])} Ts")
            ops.append(f"{rng.choice([0, 0, 0.5, -1.25])} Tc {rng.choice([0, 0, 2, -3])} Tw")
            txt = "".join(rng.choice("Lorem ipsum dolor sit amet ") for _ in range(rng.randint(16, 48)))
            ops.append(f"({txt}) Tj")
    ops.append("ET")
    b, cat = simple_doc(" ".join(ops).encode("latin-1"))
    return b.build_classic(cat)


def _mixed_lengths_doc(seed: int) -> bytes:
    """One text run mixing short (scalar path) strings, 16-40 byte
    strings and one string of a few thousand bytes, so a run's segment
    lengths are too uneven for one padded matrix."""
    rng = random.Random(seed)
    words = "Lorem ipsum dolor sit amet consectetur "
    ops = ["BT /F1 10 Tf 1 0 0 1 36 760 Tm"]
    long_at = rng.randint(0, 30)
    for i in range(32):
        n = rng.randint(2000, 4000) if i == long_at else rng.choice([4, 9, 16, 23, 40])
        txt = "".join(rng.choice(words) for _ in range(n))
        ops.append(f"({txt}) Tj" + rng.choice(["", "", " 0 -12 Td", " 30 0 Td"]))
    ops.append("ET")
    b, cat = simple_doc(" ".join(ops).encode("latin-1"))
    return b.build_classic(cat)


def _sets() -> dict:
    return {
        # bench-shaped 1-3 page Flate/Helvetica docs (Tm + Tj lines)
        "bench_pdf": [bench_pdf(seed=9000 + i, npages=1 + i % 3) for i in range(200)],
        # Tc/Tw/Tz/Ts changes inside one text run, TJ kerning
        "fastpath_random": [_random_doc(s) for s in range(40)],
        "skewed_rise": [_skewed_doc(s) for s in range(30)],
        "mixed_lengths": [_mixed_lengths_doc(s) for s in range(10)],
    }


def _digest(data: bytes) -> str:
    res = extract_text(data)
    key = [res.status, res.pages, sorted(res.failures.items())]
    return hashlib.sha256(json.dumps(key).encode("utf-8")).hexdigest()


def _digests() -> dict:
    return {name: [_digest(d) for d in docs] for name, docs in _sets().items()}


def test_hot_path_text_matches_pinned_digests():
    with open(_GOLDEN) as f:
        want = json.load(f)
    got = _digests()
    assert got.keys() == want.keys()
    for name in want:
        bad = [i for i, (a, b) in enumerate(zip(got[name], want[name])) if a != b]
        assert len(got[name]) == len(want[name]) and not bad, (name, bad[:10])


if __name__ == "__main__":
    print(json.dumps(_digests(), indent=1))
