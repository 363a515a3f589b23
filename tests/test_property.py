"""Property-based tests (SURVEY §5.3): the extractor never raises on
arbitrary bytes or on random well-formed-ish content streams; filter
round-trips hold for arbitrary payloads."""

from __future__ import annotations

import zlib

from hypothesis import given, settings, strategies as st

from delphi_pdf_parser_spark.fixtures import (
    PdfBuilder,
    a85_encode,
    ahx_encode,
    lzw_encode,
    rl_encode,
)
from delphi_pdf_parser_spark.pdfcore import extract_text
from delphi_pdf_parser_spark.pdfcore import filters as flt


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_extract_never_raises_on_garbage(data):
    res = extract_text(data)
    assert res.status in ("ok", "repaired", "failed")


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=1024))
def test_extract_never_raises_on_pdf_prefixed_garbage(data):
    res = extract_text(b"%PDF-1.4\n" + data)
    assert res.status in ("ok", "repaired", "failed")


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_filter_roundtrips(payload):
    assert flt.flate_decode(zlib.compress(payload)) == payload
    assert flt.ahx_decode(ahx_encode(payload)) == payload
    assert flt.a85_decode(a85_encode(payload)) == payload
    assert flt.rl_decode(rl_encode(payload)) == payload
    assert flt.lzw_decode(lzw_encode(payload)) == payload


@settings(max_examples=50, deadline=None)
@given(
    st.sampled_from(
        ["xref_classic", "xref_stream", "objstm", "type0_identity_h", "multipage"]
    ),
    st.lists(
        st.tuples(st.integers(0, 4000), st.integers(0, 255)), max_size=6
    ),
)
def test_mutation_fuzz_never_raises(case_id, flips):
    """Random byte corruption of valid fixtures: the extractor must fail
    gracefully (repair or failure code), never raise."""
    from delphi_pdf_parser_spark.fixtures import CASES

    pdf, _, _ = CASES[case_id]()
    data = bytearray(pdf)
    for pos, val in flips:
        data[pos % len(data)] = val
    res = extract_text(bytes(data))
    assert res.status in ("ok", "repaired", "failed")


_TEXT_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("Td"), st.floats(-500, 500), st.floats(-500, 500)),
        st.tuples(st.just("TL"), st.floats(0, 50)),
        st.tuples(st.just("Tc"), st.floats(-5, 5)),
        st.tuples(st.just("Tw"), st.floats(-5, 5)),
        st.tuples(st.just("Tz"), st.floats(1, 200)),
        st.tuples(st.just("Ts"), st.floats(-20, 20)),
        st.tuples(st.just("T*")),
        # 0x27/0x60 excluded: StandardEncoding maps them to quoteright/
        # quoteleft (U+2019/U+2018), correctly breaking char identity
        st.tuples(st.just("Tj"), st.text(st.characters(min_codepoint=32, max_codepoint=126).filter(lambda c: c not in "()\\'`"), max_size=12)),
        st.tuples(st.just("TJ"), st.text(st.characters(min_codepoint=65, max_codepoint=90), max_size=6), st.integers(-2000, 2000)),
        st.tuples(st.just("q")),
        st.tuples(st.just("Q")),
    ),
    max_size=24,
)


@settings(max_examples=40, deadline=None)
@given(_TEXT_OPS)
def test_random_content_streams_extract(ops):
    parts = ["BT /F1 12 Tf"]
    for op in ops:
        if op[0] == "Tj":
            parts.append(f"({op[1]}) Tj")
        elif op[0] == "TJ":
            parts.append(f"[({op[1]}) {op[2]}] TJ")
        elif op[0] in ("T*", "q", "Q"):
            parts.append(op[0])
        else:
            parts.append(" ".join(f"{v:.2f}" for v in op[1:]) + f" {op[0]}")
    parts.append("ET")
    content = " ".join(parts).encode("latin-1")
    b = PdfBuilder()
    cat = b.add("<< /Type /Catalog /Pages 2 0 R >>")
    b.add("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    )
    b.add(f"<< /Length {len(content)} >>", content)
    b.add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    pdf = b.build_classic(cat)

    res = extract_text(pdf)
    assert res.status == "ok", (res.status, res.error, res.failures)
    # output must be stable across repeated extraction (purity)
    res2 = extract_text(pdf)
    assert res.text == res2.text
    # every shown printable char must appear in order in the output
    shown = "".join(op[1] for op in ops if op[0] in ("Tj", "TJ"))
    stripped = res.text.replace("\r\n", "").replace(" ", "")
    it = iter(stripped)
    for ch in shown.replace(" ", ""):
        assert any(c == ch for c in it), (shown, res.text)


def _assert_fill_is_classic(data: bytes):
    """ContentTokens.fill() with every TOK_NUMS run expanded is the
    classic token stream, numbers compared as the interpreter stores them
    (float(val), sign of zero included), and every token's end is the
    classic scanner's position after it. ContentTokens.lex() hands out
    the same tokens one at a time, each run member as a TOK_REAL."""
    import math

    from delphi_pdf_parser_spark.pdfcore import lexer as lx

    classic = lx.Lexer(data)
    seen = []

    def next_classic():
        tok, val = classic.lex()
        seen.append((tok, val))
        return tok, val, classic.pos

    cur = lx.ContentTokens(lx.Lexer(data))
    for _ in range(300):
        buf = cur.fill()
        for tok, val, end in buf:
            if tok == lx.TOK_NUMS:
                assert len(val) >= 2
                for v in val:
                    ctok, cval, cend = next_classic()
                    assert ctok in (lx.TOK_INT, lx.TOK_REAL)
                    assert v == float(cval)
                    assert math.copysign(1.0, v) == math.copysign(1.0, float(cval))
                assert end == cend
            else:
                assert (tok, val, end) == next_classic()
        if buf[-1][0] == lx.TOK_EOF:
            break

    one = lx.ContentTokens(lx.Lexer(data))
    for ctok, cval in seen:
        tok, val = one.lex()
        if tok == lx.TOK_REAL and ctok == lx.TOK_INT:
            assert val == float(cval)
        else:
            assert (tok, val) == (ctok, cval)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            b"0123456789+-.()[]<>/%\\\r\n\t ABCTdfmj*'\"ET#\x00\xff\x80"
            b"truefalsnulobjendstramxi"
        ),
        max_size=64,
    ).map(bytes)
)
def test_bulk_tokenizer_equals_classic_lexer(data):
    """ContentTokens (the bulk regex content lexer) must emit the exact
    token stream of the classic byte scanner for ANY input — the bulk
    patterns are strict subsets and everything else falls back."""
    _assert_fill_is_classic(data)


_RUN_PIECES = st.one_of(
    st.sampled_from(
        [bytes([c]) for c in b"0123456789+-.()[]<>/%\\\r\n\t ABCTdfmj*'\"ET#\x00\xff\x80"]
        + [b"%c\n", b"Tm"]
    ),
    st.sampled_from([b" ", b" -0 ", b"\n", b" 0.5 "]),
    st.text("0123456789", min_size=1, max_size=20).map(str.encode),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_RUN_PIECES, max_size=48).map(b"".join))
def test_number_run_tokens_equal_classic_lexer(data):
    """Number-heavy streams: every TOK_NUMS run from ContentTokens.fill()
    expands to the classic scanner's number tokens."""
    _assert_fill_is_classic(data)


def _content_doc(content: bytes) -> bytes:
    from delphi_pdf_parser_spark.fixtures import simple_doc

    b, cat = simple_doc(content)
    return b.build_classic(cat)


def test_number_run_negative_zero_pushes_positive_zero():
    import math

    from delphi_pdf_parser_spark.pdfcore import lexer as lx

    (tok, val, _end), _tm = lx.ContentTokens(lx.Lexer(b"1 -0 2 Tm")).fill()
    assert tok == lx.TOK_NUMS and val == [1.0, 0.0, 2.0]
    assert math.copysign(1.0, val[1]) == 1.0


# (content, text, failures) pinned from the one-token-per-number
# interpreter that number runs replaced
_RUN_CASES = [
    (b"BT /F1 12 Tf 1 -0 2 Tm (ab) Tj ET", "a\r\nb\r\n", {}),
    (b"BT /F1 12 Tf 72 1234567890123456 Td (x) Tj ET", "x\r\n", {}),
    (b"BT /F1 12 Tf 1 0 0 1 72 " + b"9" * 400 + b" Tm (x) Tj ET", "", {"page_error:OverflowError": 1}),
    (b"BT /F1 12 Tf 72 " + b"7" * 400 + b" Td (x) Tj ET", "", {"page_error:OverflowError": 1}),
    (
        b"BT /F1 12 Tf 1 0 0 1\x0072 720 Tm (a) Tj 1 0 0 1 72%c\n700 Tm (b) Tj ET",
        "a\r\nb\r\n",
        {},
    ),
    (b"BT /F1 12 Tf 1 0 0 1 72 720 " + b"9 " * 34 + b"Tm (over) Tj ET", "over\r\n", {"stack_overflow": 8}),
    (b"BT /F1 12 Tf 72 720 Td [(a) 1 2 (b)] TJ ET", "ab\r\n", {}),
    (b"BT /F1 12 Tf 72 720 Td [(a) -150 -150 (b) 150 (c)] TJ ET", "a bc\r\n", {}),
]


def test_number_runs_keep_text_and_failure_codes():
    for content, text, failures in _RUN_CASES:
        res = extract_text(_content_doc(content))
        assert (res.text, res.failures) == (text, failures), content[:60]


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_mutated_font_programs_never_crash(data):
    """Random byte corruption of embedded TTF/CFF programs must degrade
    to failure codes, never exceptions: the loaders catch parse errors and
    the estrings chain falls back."""
    from delphi_pdf_parser_spark.fixtures import (
        _bt,
        _ttf_font_doc,
        build_cff,
        build_ttf,
        PdfBuilder,
        simple_doc,
    )
    from delphi_pdf_parser_spark.pdfcore import extract_text

    kind = data.draw(st.sampled_from(["ttf", "cff"]))
    if kind == "ttf":
        prog = bytearray(
            build_ttf(
                cmaps=[(3, 0, {0xF041: 1}), (3, 1, {0x41: 1})],
                post_names=[".notdef", "alpha"],
                advances=(500, 600),
            )
        )
    else:
        prog = bytearray(
            build_cff(
                encoding_codes={65: 1},
                charset_sids=[0, 391],
                custom_strings=[b"alpha"],
                n_glyphs=2,
            )
        )
    n_flips = data.draw(st.integers(1, 8))
    for _ in range(n_flips):
        pos = data.draw(st.integers(0, len(prog) - 1))
        prog[pos] = data.draw(st.integers(0, 255))
    prog = bytes(prog)
    b = PdfBuilder()
    if kind == "ttf":
        b2, cat = _ttf_font_doc(_bt("72 720 Td (A) Tj"), prog, flags=4)
    else:
        b.set(7, f"<< /Length {len(prog)} /Subtype /Type1C >>", prog)
        b.set(6, "<< /Type /FontDescriptor /FontName /M /FontFile3 7 0 R >>")
        font = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /M /FontDescriptor"
            " 6 0 R /FirstChar 65 /LastChar 65 /Widths [500] >>"
        )
        b2, cat = simple_doc(_bt("72 720 Td (A) Tj"), font_body=font, builder=b)
    res = extract_text(b2.build_classic(cat))
    assert res.status in ("ok", "repaired", "failed")
    assert res.text is None or isinstance(res.text, str)


# --- web parsers: arbitrary crawl bytes must never raise -----------------

_HTMLISH = st.binary(min_size=0, max_size=2048) | st.builds(
    lambda parts: b"".join(parts),
    st.lists(
        st.sampled_from(
            [
                b"<a href='", b"<a href=\"", b"<a ", b"</a>", b"<base href=x>",
                b"<table>", b"</table>", b"<tr>", b"<td>", b"<th colspan='2'>",
                b"<td colspan=zz>", b"<meta name=robots content=noindex>",
                b"<link rel=canonical href='/c'>", b"<title>t</title>",
                b"<script type='application/ld+json'>{", b"</script>",
                b"javascript:x", b"#frag", b"http://x/", b"%%", b"\xff\xfe",
                b"text &amp; more ", b"'>", b'">', b"<",
            ]
        ),
        max_size=30,
    ),
)


@given(_HTMLISH)
@settings(max_examples=150, deadline=None)
def test_page_links_never_raises(raw):
    from delphi_pdf_parser_spark.operators.graphs import _page_links

    rows = _page_links("https://fuzz.example/a/b?q=1", raw)
    for src, dst, anchor, nofollow in rows:
        assert dst.lower().startswith(("http://", "https://"))
        assert isinstance(anchor, str) and isinstance(nofollow, bool)


@given(_HTMLISH)
@settings(max_examples=150, deadline=None)
def test_page_tables_never_raises(raw):
    from delphi_pdf_parser_spark.operators.htmltables import _page_tables

    rows = _page_tables("u", raw)
    for _, tid, rid, cid, cell, is_header in rows:
        assert tid >= 0 and rid >= 0 and cid >= 0
        assert isinstance(cell, str)


@given(_HTMLISH)
@settings(max_examples=150, deadline=None)
def test_page_meta_and_jsonld_never_raise(raw):
    from delphi_pdf_parser_spark.operators.htmlmeta import (
        _page_jsonld,
        _page_meta,
    )

    r = _page_meta("https://fuzz.example/", raw)
    assert len(r) == 8 and isinstance(r[7], bool)
    for _, blob_id, body in _page_jsonld("u", raw):
        assert isinstance(blob_id, int) and body.strip()


@given(_HTMLISH)
@settings(max_examples=150, deadline=None)
def test_render_markdown_never_raises(raw):
    from delphi_pdf_parser_spark.operators.htmlmarkdown import (
        _render_markdown,
    )

    url, md, n_blocks, n_links = _render_markdown(
        "https://fuzz.example/a/b?q=1", raw
    )
    assert isinstance(md, str)
    assert n_blocks >= 0 and n_links >= 0
    # blocks contract: no leading/trailing blank lines, single-blank
    # separation
    assert "\n\n\n" not in md
    assert md == md.strip("\n")


@given(st.binary(min_size=0, max_size=2048))
@settings(max_examples=100, deadline=None)
def test_render_markdown_arbitrary_bytes(raw):
    from delphi_pdf_parser_spark.operators.htmlmarkdown import (
        _render_markdown,
    )

    _render_markdown("u", raw)
