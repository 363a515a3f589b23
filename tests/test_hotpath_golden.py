"""Pinned page text of the content-stream hot path (lexer, interpreter,
text device) on seeded document sets.

perfbench checks Spark output against single-process extraction from the
same checkout, so it cannot see a change in the extracted text itself;
these digests were taken from the implementation before the run-level
lexer and segment text runs, and every later version must reproduce them.
The ``text_ops`` digests were taken from the implementation before
operator tokens, deferred string end x and str span text; its entry 5
(an infinite Tc) from that implementation's per-glyph loop, which its
NumPy span path contradicted there (np.hypot(inf, nan) is inf, the
loop's sqrt of the sum is nan). Its entries 16 and 19 (a ``u-1`` glyph,
Unicode value -1, in a run of 16 or more glyphs) were retaken when the
text device got one span path: that NumPy path failed those pages, and
the glyph is now dropped, as in entry 14.

Regenerate (only for an intended text change) with
``PYTHONPATH=. python tests/test_hotpath_golden.py > tests/hotpath_golden.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import warnings

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


_LONG = "Lorem ipsum dolor sit amet"  # 26 bytes: a segment on the fast path

# a Type0 font whose embedded 1-byte CMap gives CIDs to codes 0x20-0x7A
# only, so other codes have no CID (cannot_encode_cpt)
_CMAP = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap "
    b"/CMapName /Partial def 1 begincodespacerange <00> <FF> endcodespacerange "
    b"1 begincidrange <20> <7A> 32 endcidrange endcmap "
    b"CMapName currentdict /CMap defineresource pop end end"
)
# ToUnicode: 'f' (0x66) as the ligature U+FB01, 'g' (0x67) as two code
# points, everything else in 0x20-0x7E as itself (the Type0 font's CIDs
# equal its codes)
_TO_UNICODE = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap "
    b"1 begincodespacerange <00> <FF> endcodespacerange "
    b"3 beginbfchar <66> <FB01> <67> <00660067> <68> <0068> endbfchar "
    b"2 beginbfrange <20> <65> <0020> <69> <7E> <0069> endbfrange "
    b"endcmap CMapName currentdict /CMap defineresource pop end end"
)


def _ops_doc(ops: str, font: str = "helvetica") -> bytes:
    """One page showing ``ops`` with /F1 as a Helvetica, a Helvetica
    with a ToUnicode CMap, a Helvetica whose glyph names give A-D code
    points chr() rejects, or a Type0 font with a partial 1-byte CMap."""
    from delphi_pdf_parser_spark.fixtures import PdfBuilder

    b = PdfBuilder()
    if font == "helvetica":
        body = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    elif font == "bad_names":
        body = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding "
            "<< /Differences [65 /u-5 66 /u-1 67 /u3000000000 68 /u1114112] >> >>"
        )
    elif font == "to_unicode":
        body = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>"
    else:
        body = (
            "<< /Type /Font /Subtype /Type0 /BaseFont /Partial /Encoding 6 0 R "
            "/DescendantFonts [7 0 R] /ToUnicode 8 0 R >>"
        )
    _, cat = simple_doc(ops.encode("latin-1"), font_body=body, builder=b)
    if font == "to_unicode":
        b.add(f"<< /Length {len(_TO_UNICODE)} >>", _TO_UNICODE)
    elif font == "partial_cmap":
        b.add(f"<< /Type /CMap /Length {len(_CMAP)} >>", _CMAP)
        b.add(
            "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Partial "
            "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            "/Supplement 0 >> /DW 600 >>"
        )
        b.add(f"<< /Length {len(_TO_UNICODE)} >>", _TO_UNICODE)
    return b.build_classic(cat)


def _text_ops_docs() -> list:
    """The interpreter's text operators on long strings: chained and
    kerned strings, ' and ", short Tm operand lists, non-finite operands,
    codes without a CID, ligatures, several text states in one run,
    operator tokens overflowing the stack, before BI and inside TJ, and
    code points chr() rejects (a page error; -1 is dropped)."""
    inf = "9" * 400 + ".5"
    docs = [
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}) Tj ({_LONG}) Tj ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 72 720 Td [({_LONG}) -250 ({_LONG}) 120 (x) -4000 ({_LONG})] TJ ET", "helvetica"),
        (f"BT /F1 12 Tf 14 TL 72 720 Td ({_LONG}) ' 3 1.5 ({_LONG}) \" ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 2 0 0 Tm ({_LONG}) Tj Tm ({_LONG}) Tj 1 0 0 1 72 Tm ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 1 0 0 1 {inf} 720 Tm ({_LONG}) Tj ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 1 0 0 1 72 720 Tm {inf} Tc ({_LONG}) Tj ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 1 0 0 1 72 720 Tm 2 Tw ({_LONG}) Tj ({_LONG}\177{_LONG}) Tj ({_LONG}) Tj ET", "partial_cmap"),
        (f"BT /F1 12 Tf 1 0 0 1 72 720 Tm (often fine fish {_LONG}) Tj ({_LONG}) Tj ET", "to_unicode"),
        (f"BT /F1 12 Tf 1 0 0 1 72 720 Tm (big figs, fine fish {_LONG}) Tj ({_LONG}) Tj ET", "to_unicode"),
        (f"BT /F1 12 Tf 1 0 0 1 72 720 Tm ({_LONG}) Tj 0.5 Tc ({_LONG}) Tj 3 Tw ({_LONG}) Tj 90 Tz ({_LONG}) Tj ET", "helvetica"),
        ("BT /F1 12 Tf 1 0 0 1 72 720 " + "9 " * 34 + f"Tm ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}) Tj 1 2 BI /W 1 /H 1 /BPC 8 /CS /G ID \x00 EI ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 72 720 Td [({_LONG}) 1 2 Tw ({_LONG})] TJ ({_LONG}) Tj ET", "helvetica"),
        (f"BT /F1 12 Tf 72 720 Td [({_LONG}) 1 2 Tw] TJ [(a) ({_LONG})Tc] TJ ET", "helvetica"),
        ("BT /F1 12 Tf 72 720 Td (xBx) Tj ET", "bad_names"),
        ("BT /F1 12 Tf 72 720 Td (xAx) Tj ET", "bad_names"),
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}B) Tj ET", "bad_names"),
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}DC) Tj ET", "bad_names"),
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}CD) Tj ET", "bad_names"),
        (f"BT /F1 12 Tf 72 720 Td ({_LONG}) Tj (B) Tj ({_LONG}) Tj ET", "bad_names"),
    ]
    return [_ops_doc(ops, font) for ops, font in docs]


def _sets() -> dict:
    return {
        # bench-shaped 1-3 page Flate/Helvetica docs (Tm + Tj lines)
        "bench_pdf": [bench_pdf(seed=9000 + i, npages=1 + i % 3) for i in range(200)],
        # Tc/Tw/Tz/Ts changes inside one text run, TJ kerning
        "fastpath_random": [_random_doc(s) for s in range(40)],
        "skewed_rise": [_skewed_doc(s) for s in range(30)],
        "mixed_lengths": [_mixed_lengths_doc(s) for s in range(10)],
        "text_ops": _text_ops_docs(),
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


def test_infinite_positions_lay_out_without_numpy_warnings():
    """Runs at an infinite x (a 400-digit Tm operand) or with an infinite
    Tc lay out without a NumPy RuntimeWarning: with warnings as errors
    the pages still hold their text and record no failure."""
    docs = _text_ops_docs()[4:6]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = [extract_text(d) for d in docs]
    for res in got:
        assert res.status == "ok" and not res.failures
        assert res.pages == ["Lorem ipsum dolor sit ametLorem ipsum dolor sit amet\r\n"]


if __name__ == "__main__":
    print(json.dumps(_digests(), indent=1))
