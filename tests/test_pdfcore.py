"""Unit tests for the pure-Python PDF core (no Spark).

The SHA-256 golden gate over the full fixture corpus lives in
test_golden_gate.py; these tests target individual operators per
SURVEY.md §5.2.
"""

from __future__ import annotations

import zlib

import pytest

from delphi_pdf_parser_spark.pdfcore import lexer as lx
from delphi_pdf_parser_spark.pdfcore.lexer import Lexer
from delphi_pdf_parser_spark.pdfcore.parser import parse_dict, parse_ind_obj
from delphi_pdf_parser_spark.pdfcore import filters as flt
from delphi_pdf_parser_spark.pdfcore.cmap import parse_cmap, identity_cmap
from delphi_pdf_parser_spark.pdfcore.cos import IndirectRef, Name
from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
from delphi_pdf_parser_spark.fixtures import (
    a85_encode,
    ahx_encode,
    lzw_encode,
    png_predict_encode,
    rl_encode,
    tiff_predict_encode,
)


def lex_all(data: bytes):
    lex = Lexer(data)
    out = []
    while True:
        tok, val = lex.lex()
        if tok == lx.TOK_EOF:
            return out
        out.append((tok, val))


class TestLexer:
    def test_numbers(self):
        toks = lex_all(b"0 42 -7 +3 3.14 -0.5 .25 4.")
        kinds = [t for t, _ in toks]
        assert kinds == [lx.TOK_INT] * 4 + [lx.TOK_REAL] * 4
        assert [v for _, v in toks] == [0, 42, -7, 3, 3.14, -0.5, 0.25, 4.0]

    def test_string_escapes(self):
        toks = lex_all(rb"(a\nb\t\(c\)\\d\101e)")
        assert toks == [(lx.TOK_STRING, b"a\nb\t(c)\\dAe")]

    def test_string_octal_short(self):
        assert lex_all(rb"(\7z\77z\777z)") == [
            (lx.TOK_STRING, b"\x07z\x3fz\xffz")
        ]

    def test_string_balanced_parens(self):
        assert lex_all(b"(a(b)c)") == [(lx.TOK_STRING, b"a(b)c")]

    def test_string_raw_newlines_dropped(self):
        # reference port drops raw CR/LF inside literals
        assert lex_all(b"(a\nb)") == [(lx.TOK_STRING, b"ab")]

    def test_hex_string(self):
        assert lex_all(b"<48 65 6C6C6F>") == [(lx.TOK_STRING, b"Hello")]

    def test_name_hex_escape(self):
        assert lex_all(b"/A#20B") == [(lx.TOK_NAME, "A B")]

    def test_keywords(self):
        kinds = [t for t, _ in lex_all(b"obj endobj stream endstream R true false null xref trailer startxref fooo")]
        assert kinds == [
            lx.TOK_OBJ, lx.TOK_ENDOBJ, lx.TOK_STREAM, lx.TOK_ENDSTREAM,
            lx.TOK_R, lx.TOK_TRUE, lx.TOK_FALSE, lx.TOK_NULL, lx.TOK_XREF,
            lx.TOK_TRAILER, lx.TOK_STARTXREF, lx.TOK_KEYWORD,
        ]

    def test_comment_and_dicts(self):
        toks = lex_all(b"% hi there\n<< /K 1 >> [ ]")
        assert [t for t, _ in toks] == [
            lx.TOK_OPEN_DICT, lx.TOK_NAME, lx.TOK_INT, lx.TOK_CLOSE_DICT,
            lx.TOK_OPEN_ARRAY, lx.TOK_CLOSE_ARRAY,
        ]


class TestParser:
    def test_dict_with_refs(self):
        lexr = Lexer(b" /A 1 0 R /B [1 2 R] /C 5 /D (s) >>")
        d = parse_dict(lexr)
        assert d["A"] == IndirectRef(1, 0)
        assert d["B"] == [IndirectRef(1, 2)]
        assert d["C"] == 5
        assert d["D"] == b"s"

    def test_array_ref_lookahead(self):
        lexr = Lexer(b"1 0 R 2 3 4 5 R /n]")
        from delphi_pdf_parser_spark.pdfcore.parser import parse_array

        arr = parse_array(lexr)
        assert arr == [IndirectRef(1, 0), 2, 3, IndirectRef(4, 5), Name("n")]

    def test_ind_obj_stream_offset(self):
        data = b"7 0 obj\n<< /Length 3 >>\nstream\nabc\nendstream\nendobj"
        obj, num, gen, stm_ofs = parse_ind_obj(Lexer(data))
        assert (num, gen) == (7, 0)
        assert data[stm_ofs : stm_ofs + 3] == b"abc"

    def test_inline_image_dict_terminates_at_ID(self):
        lexr = Lexer(b" /W 4 /H 4 ID \x00\x01")
        d = parse_dict(lexr)
        assert d == {"W": 4, "H": 4}


class TestFilters:
    def test_flate_roundtrip(self):
        data = b"the quick brown fox" * 10
        assert flt.flate_decode(zlib.compress(data)) == data

    def test_flate_trailing_garbage(self):
        data = b"payload"
        assert flt.flate_decode(zlib.compress(data) + b"GARBAGE") == data

    def test_ahx(self):
        assert flt.ahx_decode(ahx_encode(b"Hello\x00\xff")) == b"Hello\x00\xff"

    def test_a85(self):
        for payload in (b"sun", b"sunny day", b"\x00\x00\x00\x00abc", b"x"):
            assert flt.a85_decode(a85_encode(payload)) == payload

    def test_rle(self):
        for payload in (b"aaaaabbbccc" * 9, b"abcdef", b"a" * 300):
            assert flt.rl_decode(rl_encode(payload)) == payload

    def test_lzw(self):
        data = b"TOBEORNOTTOBEORTOBEORNOT" * 20
        assert flt.lzw_decode(lzw_encode(data)) == data

    def test_png_predictors(self):
        data = bytes(range(256)) * 3
        for tag in (0, 1, 2, 4):
            enc = png_predict_encode(data, 32, tag)
            out = flt.predict(enc, 10 + tag, 1, 8, 32)
            assert out[: len(data)] == data

    def test_tiff_predictor(self):
        data = b"ABCDEFGHIJ" * 8
        enc = tiff_predict_encode(data, 10)
        assert flt.predict(enc, 2, 1, 8, 10)[: len(data)] == data


class TestCMap:
    def test_identity(self):
        cm = identity_cmap(0, 2)
        assert cm.lookup(0x4E00) == 0x4E00
        cpt, pos = cm.decode(b"\x4e\x00\x41\x42", 0)
        assert (cpt, pos) == (0x4E00, 2)

    def test_bfchar_multi(self):
        cm = parse_cmap(
            b"1 begincodespacerange <00> <FF> endcodespacerange "
            b"2 beginbfchar <41> <0416> <42> <00660066> endbfchar endcmap"
        )
        assert cm.lookup_full(0x41) == [0x416]
        assert cm.lookup_full(0x42) == [0x66, 0x66]

    def test_bfrange_forms(self):
        cm = parse_cmap(
            b"1 begincodespacerange <00> <FF> endcodespacerange "
            b"2 beginbfrange <41> <43> <0061> <44> <45> [<0058> <0059>] endbfrange endcmap"
        )
        assert [cm.lookup(c) for c in (0x41, 0x42, 0x43)] == [0x61, 0x62, 0x63]
        assert cm.lookup_full(0x44) == [0x58]
        assert cm.lookup_full(0x45) == [0x59]

    def test_cidrange(self):
        cm = parse_cmap(
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange "
            b"1 begincidrange <0041> <005A> 100 endcidrange endcmap"
        )
        assert cm.lookup(0x41) == 100
        assert cm.lookup(0x5A) == 125
        assert cm.lookup(0x60) == -1


class TestDocumentEdges:
    def test_first_entry_wins_prev_chain(self):
        from delphi_pdf_parser_spark.fixtures import CASES

        pdf, golden, _ = CASES["xref_prev_chain"]()
        doc = PdfDocument(pdf)
        # object 4 must resolve to the updated stream
        assert b"Updated" in doc.load_stream(4)

    def test_repair_sets_status(self):
        from delphi_pdf_parser_spark.fixtures import CASES

        pdf, _, _ = CASES["repair_truncated"]()
        doc = PdfDocument(pdf)
        assert doc.repaired


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


class TestNavigation:
    def test_outline_and_links(self):
        from delphi_pdf_parser_spark.fixtures import CASES
        from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
        from delphi_pdf_parser_spark.pdfcore.navigation import (
            extract_links,
            extract_outline,
        )
        from delphi_pdf_parser_spark.pdfcore.pages import load_page_tree

        pdf, _, _ = CASES["outline_links"]()
        doc = PdfDocument(pdf)
        load_page_tree(doc)
        outline = extract_outline(doc)
        assert [(o.level, o.title) for o in outline] == [
            (0, "Chapter 1"),
            (1, "Section 1.1"),
            (0, "Chapter 2"),
        ]
        assert outline[0].dest == "page-obj:3"
        links = extract_links(doc)
        kinds = {(l.kind, l.target) for l in links}
        assert ("uri", "https://example.org/spec") in kinds
        assert ("goto", "page-obj:3") in kinds


class TestCJKCMaps:
    def test_mixed_width_codespace_decode(self):
        from delphi_pdf_parser_spark.pdfcore.cmap import load_system_cmap

        cm = load_system_cmap("GBK-EUC-H")
        widths = sorted({n for n, _, _ in cm.codespaces})
        assert 1 in widths and 2 in widths
        # 1-byte ASCII then a 2-byte GBK code decode at the right widths
        buf = b"\x41\xb0\xa1"
        cpt1, pos = cm.decode(buf, 0)
        assert (cpt1, pos) == (0x41, 1)
        cpt2, pos = cm.decode(buf, pos)
        assert (cpt2, pos) == (0xB0A1, 3)
        assert cm.lookup(cpt2) > 0

    def test_vertical_variant_usecmap(self):
        from delphi_pdf_parser_spark.pdfcore.cmap import load_system_cmap

        v = load_system_cmap("UniGB-UCS2-V")
        assert v.wmode == 1
        assert v.usecmap is not None and v.usecmap.name == "UniGB-UCS2-H"
        # codepoints not overridden by the V table fall through to H
        assert v.lookup(0x4E00) == v.usecmap.lookup(0x4E00)

    def test_ucs2_roundtrip_sample(self):
        from delphi_pdf_parser_spark.pdfcore.cmap import load_system_cmap

        enc = load_system_cmap("UniKS-UCS2-H")
        ucs = load_system_cmap("Adobe-Korea1-UCS2")
        hits = 0
        for cp in range(0xAC00, 0xAC00 + 64):  # Hangul syllables
            cid = enc.lookup(cp)
            if cid > 0:
                assert ucs.lookup(cid) == cp
                hits += 1
        assert hits > 32


class TestSfnt:
    """FreeType-free sfnt reader (SURVEY A29's TrueType branches)."""

    def _ttf(self, **kw):
        from delphi_pdf_parser_spark.fixtures import build_ttf

        return build_ttf(**kw)

    def test_charmap_selection_last_match_wins(self):
        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntFont

        ttf = self._ttf(
            cmaps=[(1, 0, {0x42: 5}), (3, 1, {0x41: 1})], advances=(500,)
        )
        sf = SfntFont(ttf)
        sf.select_charmap("TRUETYPE")
        assert sf.charmap.platform_id == 3 and sf.charmap.encoding_id == 1
        # reversed font order -> the Mac Roman table wins
        ttf2 = self._ttf(
            cmaps=[(3, 1, {0x41: 1}), (1, 0, {0x42: 5})], advances=(500,)
        )
        sf2 = SfntFont(ttf2)
        sf2.select_charmap("TRUETYPE")
        assert sf2.charmap.platform_id == 1

    def test_char_index_f000_retry_and_cjk_quirk(self):
        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntFont

        ttf = self._ttf(
            cmaps=[(3, 0, {0xF041: 7, 0x2026: 9})], advances=(500,)
        )
        sf = SfntFont(ttf)
        sf.select_charmap("TRUETYPE")
        assert sf.charmap_is_ms_symbol
        assert sf.char_index(0x41) == 7       # 0xF000 retry
        assert sf.char_index(0x22EF) == 9     # midline-ellipsis workaround
        assert sf.char_index(0x99) == 0

    def test_post_names_and_first_match_name_index(self):
        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntFont

        ttf = self._ttf(
            cmaps=[(3, 1, {0x41: 1})],
            post_names=[".notdef", "dup", "dup", "omega"],
            advances=(500,),
        )
        sf = SfntFont(ttf)
        assert sf.has_glyph_names
        assert sf.glyph_name(3) == "omega"
        assert sf.name_index("dup") == 1      # FT returns the first gid
        assert sf.name_index("missing") == 0

    def test_advance_scaling_upem(self):
        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntFont

        ttf = self._ttf(
            cmaps=[(3, 1, {0x41: 1})], advances=(1024, 2048), upem=2048
        )
        sf = SfntFont(ttf)
        assert sf.advance1000(0) == 500
        assert sf.advance1000(1) == 1000
        assert sf.advance1000(99) == 1000     # clamp to last (monospace rule)

    def test_post3_has_no_names(self):
        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntFont

        ttf = self._ttf(cmaps=[(3, 0, {0xF041: 1})], advances=(500,))
        sf = SfntFont(ttf)
        assert not sf.has_glyph_names and sf.glyph_name(1) is None

    def test_garbage_rejected(self):
        import pytest

        from delphi_pdf_parser_spark.pdfcore.sfnt import SfntError, SfntFont

        with pytest.raises(SfntError):
            SfntFont(b"not a font at all")
        with pytest.raises(SfntError):
            SfntFont(self._ttf(cmaps=[(3, 1, {0x41: 1})], advances=(500,))[:30])


class TestType1Encoding:
    """Cleartext /Encoding recovery from embedded Type1 programs."""

    def test_custom_dup_entries(self):
        from delphi_pdf_parser_spark.pdfcore.type1 import parse_type1_encoding

        t = parse_type1_encoding(
            b"/Encoding 256 array\n"
            b"0 1 255 {1 index exch /.notdef put} for\n"
            b"dup 48 /zero put\ndup 49 /one put\nreadonly def\neexec junk"
        )
        assert t[48] == "zero" and t[49] == "one" and t[50] is None

    def test_standard_encoding(self):
        from delphi_pdf_parser_spark.pdfcore.type1 import parse_type1_encoding

        assert (
            parse_type1_encoding(b"/Encoding StandardEncoding def\neexec x")
            == "standard"
        )

    def test_pfb_segments(self):
        from delphi_pdf_parser_spark.pdfcore.type1 import parse_type1_encoding

        clear = b"/Encoding 256 array\ndup 65 /alpha put\nreadonly def\n"
        pfb = (
            b"\x80\x01" + len(clear).to_bytes(4, "little") + clear
            + b"\x80\x02\x04\x00\x00\x00\x01\x02\x03\x04" + b"\x80\x03"
        )
        t = parse_type1_encoding(pfb)
        assert t[65] == "alpha"

    def test_explicit_encoding_overrides_program(self):
        """A /Encoding entry in the font dict wins over the program's
        builtin table (reference: estrings from /Encoding are set first,
        the face only fills nil slots)."""
        from delphi_pdf_parser_spark.fixtures import (
            PdfBuilder, _bt, simple_doc,
        )
        from delphi_pdf_parser_spark.pdfcore import extract_text

        pfa = (
            b"/Encoding 256 array\ndup 65 /alpha put\nreadonly def\neexec j"
        )
        b = PdfBuilder()
        b.set(7, f"<< /Length {len(pfa)} /Length1 {len(pfa)} >>", pfa)
        b.set(6, "<< /Type /FontDescriptor /FontName /T /FontFile 7 0 R >>")
        font = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /T /FontDescriptor"
            " 6 0 R /Encoding << /Differences [65 /beta] >> /FirstChar 65"
            " /LastChar 65 /Widths [500] >>"
        )
        b2, cat = simple_doc(_bt("72 720 Td (A) Tj"), font_body=font, builder=b)
        res = extract_text(b2.build_classic(cat))
        assert res.text == "β\r\n"


class TestCff:
    """CFF/Type1C reader (FontFile3): encoding, charset, strings."""

    def _font(self, **kw):
        from delphi_pdf_parser_spark.fixtures import build_cff
        from delphi_pdf_parser_spark.pdfcore.cff import CffFont

        return CffFont(build_cff(**kw))

    def test_custom_encoding_and_charset(self):
        f = self._font(
            encoding_codes={65: 1, 66: 2},
            charset_sids=[0, 391, 34],
            custom_strings=[b"alpha"],
            n_glyphs=3,
        )
        assert not f.is_cid and f.has_glyph_names
        assert f.char_index(65) == 1 and f.char_index(99) == 0
        assert f.glyph_name(1) == "alpha"      # custom SID 391
        assert f.glyph_name(2) == "A"          # standard SID 34
        assert f.name_index("alpha") == 1

    def test_standard_strings_spot(self):
        from delphi_pdf_parser_spark.pdfcore.cff import STD_STRINGS

        assert STD_STRINGS[0] == ".notdef"
        assert STD_STRINGS[1] == "space"
        assert STD_STRINGS[228] == "zcaron"
        assert len(STD_STRINGS) == 391
        # expert-range placeholders never hit the AGL
        from delphi_pdf_parser_spark.pdfcore.encodings import lookup_agl

        assert lookup_agl(STD_STRINGS[300]) == 0

    def test_garbage_rejected(self):
        import pytest

        from delphi_pdf_parser_spark.pdfcore.cff import CffError, CffFont

        with pytest.raises((CffError, Exception)):
            CffFont(b"\x02\x00\x04\x02nonsense")


def test_compression_ratio_signal():
    """Repetitive text must compress far below diverse text (the signal
    the ratio exists to provide); computed pandas-side for unit speed."""
    import zlib

    rep = ("spam " * 200).encode()
    div = bytes(range(256)) * 4
    r_rep = len(zlib.compress(rep, 6)) / len(rep)
    r_div = len(zlib.compress(div, 6)) / len(div)
    assert r_rep < 0.1 < r_div


class TestHiddenOcg:
    """pdf_is_hidden_ocg semantics (src/vcl/pdf_interprets.pas:20-39):
    hidden iff /OC -> /OCGs -> [0] -> /Usage/View/ViewState == /OFF;
    any missing link means visible. The reference never consults the
    document /OCProperties default config — neither do we."""

    def _doc(self):
        class _FakeDoc:
            def resolve(self, o):
                return o

            def get(self, d, key):
                return d.get(key) if isinstance(d, dict) else None

        return _FakeDoc()

    def _ocg(self, state):
        from delphi_pdf_parser_spark.pdfcore.cos import Name

        return {"Usage": {"View": {"ViewState": Name(state)}}}

    def test_ocmd_array_off_hidden(self):
        from delphi_pdf_parser_spark.pdfcore.interp import is_hidden_ocg

        obj = {"OC": {"OCGs": [self._ocg("OFF")]}}
        assert is_hidden_ocg(self._doc(), obj)

    def test_ocmd_dict_on_visible(self):
        from delphi_pdf_parser_spark.pdfcore.interp import is_hidden_ocg

        obj = {"OC": {"OCGs": self._ocg("ON")}}
        assert not is_hidden_ocg(self._doc(), obj)

    def test_direct_ocg_off_visible_reference_quirk(self):
        # /OC -> OCG directly (no /OCGs key): the reference's lookup chain
        # breaks, so even ViewState OFF stays VISIBLE. Matched deliberately.
        from delphi_pdf_parser_spark.pdfcore.interp import is_hidden_ocg

        obj = {"OC": self._ocg("OFF")}
        assert not is_hidden_ocg(self._doc(), obj)

    def test_no_oc_visible(self):
        from delphi_pdf_parser_spark.pdfcore.interp import is_hidden_ocg

        assert not is_hidden_ocg(self._doc(), {})
        assert not is_hidden_ocg(self._doc(), None)

    def test_only_first_ocg_consulted(self):
        from delphi_pdf_parser_spark.pdfcore.interp import is_hidden_ocg

        obj = {"OC": {"OCGs": [self._ocg("ON"), self._ocg("OFF")]}}
        assert not is_hidden_ocg(self._doc(), obj)

    def test_off_layer_text_suppressed_end_to_end(self):
        from delphi_pdf_parser_spark.fixtures import generate_fixtures
        from delphi_pdf_parser_spark.pdfcore import extract_text

        fx = generate_fixtures()["ocg_layers"]
        res = extract_text(fx["pdf"])
        assert res.status == "ok"
        assert "OffLayer" not in res.text
        assert "OcgAnnot" not in res.text
        assert res.text == fx["golden"]


def test_a38_width_source_divergence_is_measurable():
    """VERDICT r4 #5: the adversarial metrics fixtures must actually
    discriminate between the two width sources. With /Widths present
    (the engine's documented PDF-widths-everywhere choice) the goldens
    hold; with /Widths REMOVED the loader's ft_width fallback uses the
    embedded program's advances (the FT_Get_Advance analog,
    src/vcl/dev_textss.pas:296) and the output flips — proving the
    divergence is measured, not assumed."""
    from delphi_pdf_parser_spark.fixtures import (
        PdfBuilder,
        _bt,
        build_ttf,
        generate_fixtures,
        simple_doc,
    )
    from delphi_pdf_parser_spark.pdfcore import extract_text

    fx = generate_fixtures()
    assert (
        extract_text(bytes(fx["ttf_widths_vs_hmtx"]["pdf"])).text
        == "AB CD\r\n"
    )
    assert (
        extract_text(bytes(fx["cff_widths_vs_charstrings"]["pdf"])).text
        == "ABCD\r\n"
    )

    # same embedded TTF, no /Widths -> hmtx(=FT) pen -> the space vanishes
    ttf = build_ttf(
        cmaps=[(3, 1, {0x41: 1, 0x42: 2, 0x43: 3, 0x44: 4})],
        post_names=None,
        advances=(500, 700, 700, 700, 700),
    )
    b = PdfBuilder()
    b.set(7, f"<< /Length {len(ttf)} >>", ttf)
    b.set(
        6,
        "<< /Type /FontDescriptor /FontName /TestTTF /Flags 32"
        " /FontFile2 7 0 R >>",
    )
    font = (
        "<< /Type /Font /Subtype /TrueType /BaseFont /TestTTF"
        " /FontDescriptor 6 0 R >>"
    )
    b2, cat = simple_doc(
        _bt("72 720 Td (AB) Tj 15 0 Td (CD) Tj"), font_body=font, builder=b
    )
    assert extract_text(b2.build_classic(cat)).text == "ABCD\r\n"


def test_embedded_font_cross_document_memo():
    """The process-level font memo must now cover EMBEDDED fonts
    (indirect FontFile/ToUnicode chains resolve into content digests):
    re-extracting a document with an embedded TrueType reuses the same
    parsed FontDesc instead of re-parsing the program, and output stays
    byte-identical."""
    from delphi_pdf_parser_spark.fixtures import generate_fixtures
    from delphi_pdf_parser_spark.pdfcore import extract_text
    from delphi_pdf_parser_spark.pdfcore import fonts as fonts_mod

    pdf = bytes(generate_fixtures()["ttf_widths_vs_hmtx"]["pdf"])
    fonts_mod._FONT_MEMO.clear()
    assert extract_text(pdf).text == "AB CD\r\n"
    n1 = len(fonts_mod._FONT_MEMO)
    assert n1 >= 1, "embedded font was not memoized"
    objs = {id(v[0]) for v in fonts_mod._FONT_MEMO.values()}
    assert extract_text(pdf).text == "AB CD\r\n"
    assert len(fonts_mod._FONT_MEMO) == n1
    assert {id(v[0]) for v in fonts_mod._FONT_MEMO.values()} == objs


# ------------------------------ password authentication (r7) ---------

def test_password_user_and_owner_auth():
    """MuPDF pdf_authenticate_password order: the supplied password
    authenticates as USER first, then as OWNER (Algorithm 7: /O
    decrypts to the user password for R2-4)."""
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc
    from delphi_pdf_parser_spark.pdfcore import extract_text

    data, golden, _ = _encrypted_doc(
        "rc4", user_pw=b"secret", owner_pw=b"admin"
    )
    assert extract_text(data).error == "needs_password"
    assert extract_text(data, password="wrong").error == "needs_password"
    for pw in ("secret", "admin"):
        r = extract_text(data, password=pw)
        assert r.status == "ok" and r.text == golden, pw


def test_password_aesv2_owner_auth():
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc
    from delphi_pdf_parser_spark.pdfcore import extract_text

    data, golden, _ = _encrypted_doc("aes", user_pw=b"u", owner_pw=b"own")
    assert extract_text(data, password="own").text == golden
    assert extract_text(data, password="u").text == golden


def test_password_empty_user_still_auto_authenticates():
    """Docs encrypted with the EMPTY user password keep opening with no
    password argument (the pre-r7 behavior, unchanged)."""
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc
    from delphi_pdf_parser_spark.pdfcore import extract_text

    data, golden, _ = _encrypted_doc("rc4")
    assert extract_text(data).text == golden
    # and a wrong explicit password on an empty-user-pw doc still opens
    # via the empty fallback (matching viewers, which try empty first
    # or last — the document is readable either way)
    assert extract_text(data, password="whatever").text == golden


def test_password_r6_aes256_user_owner_and_empty():
    """R6/AES-256 (PDF 2.0): Algorithm 2.B hash + /UE//OE key unwrap,
    both password roles, plus empty-user auto-auth (the golden-gate
    fixture aesv3_empty_password covers the extraction side)."""
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc_r6
    from delphi_pdf_parser_spark.pdfcore import extract_text

    data, golden, _ = _encrypted_doc_r6(user_pw=b"u6", owner_pw=b"o6")
    assert extract_text(data).error == "needs_password"
    assert extract_text(data, password="u6").text == golden
    assert extract_text(data, password="o6").text == golden
    assert extract_text(data, password="zz").error == "needs_password"


def test_bulk_and_scalar_span_paths_agree_at_a_rounding_flip():
    """A pen jump whose length rounds to either side of the newline
    threshold depending on how it is computed: a 16-glyph run (NumPy
    bulk path) and the same glyphs as two 8-glyph runs (scalar loop)
    take the same decision."""
    import math

    import numpy as np

    from delphi_pdf_parser_spark.pdfcore.fonts import FontDesc
    from delphi_pdf_parser_spark.pdfcore.textdev import TextDevice, TextRun

    size = 52.510543409991676
    x1, y1 = 47.24408867569316, 1.2063963964897653  # the jump is -(x1, y1)
    assert np.hypot(x1, y1) <= size * 0.9 < math.sqrt(x1 * x1 + y1 * y1)
    font = FontDesc()  # no widths: every pen advance is 0
    glyphs = [(65, 0.0, 0.0)] + [(66, x1, y1)] * 15

    def text(chunks):
        dev = TextDevice()
        for chunk in chunks:
            run = TextRun(font, (size, 0.0, 0.0, size, 0.0, 0.0), 0)
            for c, x, y in chunk:
                run.add(c, c, x, y)
            dev.text(run, (1.0, 0.0, 0.0, 1.0, 0.0, 0.0))
        dev.close()
        return dev.to_text()

    assert text([glyphs]) == text([glyphs[:8], glyphs[8:]]) == "A\r\n" + "B" * 15 + "\r\n"


def test_to_text_folds_control_chars_and_lone_surrogates():
    """Code points below 32 and lone UTF-16 surrogates serialize as '?';
    spans without them pass through unchanged."""
    from delphi_pdf_parser_spark.pdfcore.textdev import TextDevice

    dev = TextDevice()
    for c in [0x41, 0x01, 0xD800, 0x42]:
        dev._add_char(None, 0.0, 0, c)
    dev._add_newline(None, 0.0, 0)
    for c in [0x43, 0xDFFF, 0x1F, 0x20, 0x1F600]:
        dev._add_char(None, 0.0, 0, c)
    dev._add_newline(None, 0.0, 0)
    for c in [0xE9, 0x7E]:
        dev._add_char(None, 0.0, 0, c)
    dev.close()
    assert dev.to_text() == "A??B\r\nC?? \U0001F600\r\né~\r\n"
