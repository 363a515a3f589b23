"""The optimized 1-byte show_string fast path, and the text device's
layout of its segments at their boundaries, must be byte-identical to
the general per-char path and the per-glyph loop."""

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


_HELVETICA = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
# a Type3 font whose /Widths are not whole units: its hmtx (the string
# advance) truncates them and its pen advance keeps them, so a glyph's
# pen ends 0.0009 em past the next glyph's origin
_TYPE3 = (
    "<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1000 1000] "
    "/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >> "
    "/Encoding /WinAnsiEncoding /FirstChar 32 /LastChar 127 "
    "/Widths [" + " ".join(["600.9"] * 95) + "] >>"
)


# code 32 draws 'a' (and still takes the word spacing), 'A' draws a ' '
_SWAPPED = (
    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding "
    "<< /Type /Encoding /Differences [32 /a 65 /space 66 /fi] >> >>"
)


def _edge_docs() -> list[bytes]:
    """Strings on either side of the segment bound: huge start x (under
    a 0.3 CTM scale the per-glyph loop breaks strings at 1e15 and 1e17
    on rounding noise alone), a zero and a tiny size, Tc on the 0.2*size
    space edge, word spacing, mirrored horizontal scaling, a rotated CTM
    with Tc, and a Type3 font whose pen advance differs from its string
    advance."""
    line = "(Lorem ipsum dolor sit amet, consectetur) Tj"
    docs = [
        _page_doc([f"{cm} BT /F1 {size} Tf 1 0 0 1 {x} 720 Tm {line} ET"])
        for x in ("1000000000000000", "10000000000000000", "100000000000000000")
        for cm, size in [("", 10)] + [("0.3 0 0 0.3 0 0 cm", s) for s in (0.1, 1, 12)]
    ]
    docs += [
        _page_doc([f"BT /F1 {size} Tf 72 720 Td {line} {line} ET"])
        for size in ("0", "0.0000001")
    ]
    docs += [
        _page_doc([f"BT /F1 10 Tf 72 720 Td {tc} Tc {line} 0 -20 Td {line} ET"])
        for tc in ("1.99", "2", "2.01", "-1.99", "-2", "-2.01")
    ]
    docs += [
        _page_doc([f"BT /F1 10 Tf 72 720 Td 30 Tw {line} ET"]),
        _page_doc([f"BT /F1 10 Tf 300 720 Td -100 Tz {line} 0 -20 Td {line} ET"]),
    ]
    docs += [
        _page_doc([f"0.8 0.6 -0.6 0.8 100 100 cm BT /F1 10 Tf 72 720 Td {tc} Tc {line} ET"])
        for tc in ("1.5", "2.5")
    ]
    docs += [
        _page_doc([f"BT /F1 10 Tf 72 720 Td {tc} Tc {line} ET"], _TYPE3)
        for tc in ("0", "-1.985", "-1.995", "1.995")
    ]
    # events inside a string: a space before every glyph (Tc past the
    # space edge), a line before every glyph or after each space (Tc or
    # Tw around the 0.9*size line edge), on a font whose code 32 is not
    # a ' ' and whose 'A' is, and under a rotated CTM
    line_a = "(Lorem ipsum A dolor sit AAmet, consectetur) Tj"
    docs += [
        _page_doc([f"BT /F1 10 Tf 72 720 Td {tc} Tc {tw} Tw {line_a} ET"], font)
        for font in (_HELVETICA, _SWAPPED)
        for tc, tw in [
            ("2.5", "0"), ("-7", "0"), ("8.99", "0"), ("9.01", "0"),
            ("0", "8.99"), ("0", "9.01"), ("0", "12"), ("2.5", "12"),
        ]
    ]
    docs.append(
        _page_doc([f"0.8 0.6 -0.6 0.8 100 100 cm BT /F1 10 Tf 72 720 Td 12 Tw {line} ET"])
    )
    # the first glyph's pen ends on (-1,-1), the device's "no pen yet",
    # so the loop adds no space before the second
    docs.append(_page_doc(["BT /F1 10 Tf 2.5 Tc 1 0 0 1 -6 -1 Tm (cccccccccccccccccccc) Tj ET"]))
    # a 1e-170 CTM scale: the size underflows to 0 and the loop's squared
    # gaps to 0, so the loop sees no event where exact arithmetic does
    tiny = "0." + "0" * 169 + "1"
    docs += [
        _page_doc([f"{tiny} 0 0 {tiny} 0 0 cm BT /F1 1 Tf {tc} Tc {line_a} ET"])
        for tc in ("0.5", "2")
    ]
    return docs


def _near_edge_doc(seed: int) -> bytes:
    """Strings whose char and word spacing put their inner gaps on the
    space and line edges, a rounding error or a little away from them,
    or anywhere, under scaled, mirrored, rotated and skewed CTMs."""
    rng = random.Random(seed)
    size = rng.choice([10, 12, 7.5, 0.5, 100])
    tz = rng.choice([100, 100, 50, 120, -100])
    ops = []
    r = rng.random()
    if r < 0.4:
        sc = rng.choice([1, 0.3, 2, 1e-3])
        flip = sc * rng.choice([1, -1, 0.5])
        ops.append(f"{sc} 0 0 {flip} {rng.uniform(0, 100):.3f} {rng.uniform(0, 100):.3f} cm")
    elif r < 0.6:
        a = rng.uniform(0, 2 * math.pi)
        c, s = math.cos(a), math.sin(a)
        ops.append(f"{c!r} {s!r} {-s!r} {c!r} 100 100 cm")
    elif r < 0.7:
        ops.append(f"1 0 {rng.uniform(-1, 1):.3f} 1 0 0 cm")

    def near(f):  # spacing putting the gap at f*size, give or take
        v = f * size * 100 / abs(tz)
        return v + rng.choice([0, 0, 1e-12, -1e-12, 1e-6, -1e-6, 1e-3, -1e-3]) * v

    ops.append(f"BT /F1 {size} Tf {tz} Tz")
    y = 700
    for _ in range(rng.randint(2, 8)):
        if rng.random() < 0.3:
            tc = rng.uniform(-12, 12) * size / 10
        else:
            tc = near(rng.choice([0.2, 0.9, -0.2, -0.9, 0.5, 1.1, 0.05]))
        tw = rng.choice([0, near(rng.choice([0.2, 0.9, 0.5, 1.5, -0.9])), rng.uniform(-20, 20)])
        txt = "".join(rng.choice("ABCDEFGH ijklm nopq 0123  ") for _ in range(rng.randint(16, 60)))
        ops.append(f"{tc!r} Tc {tw!r} Tw 1 0 0 1 {rng.uniform(-50, 300):.4f} {y} Tm ({txt}) Tj")
        if rng.random() < 0.3:
            ops.append(f"({txt[::-1]}) Tj")
        y -= rng.choice([0, 0.5, 20])
    ops.append("ET")
    return _page_doc(ops, rng.choice([_HELVETICA, _HELVETICA, _TYPE3, _SWAPPED]))


def _page_doc(ops: list[str], font: str = _HELVETICA) -> bytes:
    content = " ".join(ops).encode()
    b = PdfBuilder()
    cat = b.add("<< /Type /Catalog /Pages 2 0 R >>")
    b.add("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    )
    b.add(f"<< /Length {len(content)} >>", content)
    b.add(font)
    return b.build_classic(cat)


def _texts(docs: list[bytes]) -> list:
    return [(r.status, r.pages, r.failures) for r in map(extract_text, docs)]


def test_fast_paths_match_reference_paths(monkeypatch):
    docs = [_random_doc(s) for s in range(40)] + [_rotated_doc(s) for s in range(40)]
    docs += _edge_docs()
    fast = _texts(docs)

    # every string through show_char, every glyph through the per-glyph loop
    monkeypatch.setattr(F.FontDesc, "fast_table", lambda self: False)
    slow = _texts(docs)
    for i, (a, b) in enumerate(zip(fast, slow)):
        assert a == b, (i, a, b)


def test_segment_layout_matches_per_glyph_loop(monkeypatch):
    """Same positions both ways: only the text device's layout of a
    segment at its boundaries differs from the per-glyph loop."""
    docs = [_near_edge_doc(s) for s in range(400)] + _edge_docs()
    laid_out = _texts(docs)

    # every segment through the per-glyph loop
    monkeypatch.setattr(T, "_events", lambda *a: (b"", False, 0.0, 0.0, 0.0, None, None))
    for i, (a, b) in enumerate(zip(laid_out, _texts(docs))):
        assert a == b, (i, a, b)
