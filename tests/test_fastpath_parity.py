"""The optimized 1-byte show_string fast path and the NumPy text-device
bulk path must be byte-identical to the general (per-char) paths."""

from __future__ import annotations

import math
import random

from delphi_pdf_parser_spark.fixtures import PdfBuilder
from delphi_pdf_parser_spark.pdfcore import extract_text
from delphi_pdf_parser_spark.pdfcore import fonts as F
from delphi_pdf_parser_spark.pdfcore import textdev as T


def _random_doc(seed: int) -> bytes:
    rng = random.Random(seed)
    ops = ["BT /F1 %g Tf" % rng.choice([8, 10.5, 12])]
    x, y = 72, 720
    for _ in range(rng.randint(3, 25)):
        choice = rng.random()
        if choice < 0.35:
            txt = "".join(
                rng.choice("ABCDEFGH ijklm nopq 0123")
                for _ in range(rng.randint(1, 20))
            )
            ops.append(f"({txt}) Tj")
        elif choice < 0.5:
            ops.append(f"[({ 'kern' }) {rng.randint(-900, 900)} (ing)] TJ")
        elif choice < 0.65:
            ops.append(f"{rng.randint(-40, 40)} {rng.randint(-40, 40)} Td")
        elif choice < 0.75:
            ops.append(f"{rng.uniform(-4, 4):.2f} Tc")
        elif choice < 0.85:
            ops.append(f"{rng.uniform(0, 8):.2f} Tw")
        elif choice < 0.95:
            ops.append(f"{rng.choice([50, 80, 100, 120])} Tz")
        else:
            ops.append(f"{rng.uniform(-10, 10):.2f} Ts")
    ops.append("ET")
    return _page_doc(ops)


def _rotated_doc(seed: int) -> bytes:
    """Strings of 16 bytes or more under rotated text matrices, with
    horizontal scaling and nonzero char/word spacing and rise."""
    rng = random.Random(seed)
    ops = ["BT /F1 %g Tf" % rng.choice([8, 10.5, 12])]
    for _ in range(rng.randint(2, 10)):
        ang = rng.uniform(0.05, 2 * math.pi - 0.05)
        c, s = math.cos(ang), math.sin(ang)
        ops.append(f"{c:.4f} {s:.4f} {-s:.4f} {c:.4f} {rng.randint(50, 550)} {rng.randint(50, 750)} Tm")
        ops.append(f"{rng.choice([50, 80, 120])} Tz")
        ops.append(f"{rng.choice([-1, 1]) * rng.uniform(0.1, 3):.2f} Tc")
        ops.append(f"{rng.choice([-1, 1]) * rng.uniform(0.5, 8):.2f} Tw")
        ops.append(f"{rng.choice([-1, 1]) * rng.uniform(0.5, 8):.2f} Ts")
        for _ in range(rng.randint(1, 3)):
            txt = "".join(
                rng.choice("ABCDEFGH ijklm nopq 0123")
                for _ in range(rng.randint(16, 60))
            )
            ops.append(f"({txt}) Tj" if rng.random() < 0.7 else f"[({txt}) -250 ({txt})] TJ")
    ops.append("ET")
    return _page_doc(ops)


def _page_doc(ops: list[str]) -> bytes:
    content = " ".join(ops).encode()
    b = PdfBuilder()
    cat = b.add("<< /Type /Catalog /Pages 2 0 R >>")
    b.add("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    )
    b.add(f"<< /Length {len(content)} >>", content)
    b.add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return b.build_classic(cat)


def test_fast_paths_match_reference_paths(monkeypatch):
    docs = [_random_doc(s) for s in range(40)] + [_rotated_doc(s) for s in range(40)]
    fast = [extract_text(d).text for d in docs]

    # disable the string fast path AND the vectorized span path
    monkeypatch.setattr(F.FontDesc, "fast_table", lambda self: False)
    monkeypatch.setattr(
        T.TextDevice,
        "_extract_span_vectorized",
        lambda self, *a, **k: False,
    )
    slow = [extract_text(d).text for d in docs]
    for i, (a, b) in enumerate(zip(fast, slow)):
        assert a == b, (i, a[:120], b[:120])
