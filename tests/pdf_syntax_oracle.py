"""The byte-branch PDF scanner and recursive-descent object parser that
pdfcore ran before its one regex token grammar, kept frozen as the
oracle the property tests compare the runtime lexer and value reader
with. Not used at runtime.

``ClassicLexer.lex()`` follows the reference's ``pdf_lex`` one byte
class at a time (src/vcl/digcommtype.pas:790-906); ``parse_array``,
``parse_dict``, ``parse_stm_obj`` and ``parse_ind_obj`` each carry their
own token->value switch (src/vcl/digcommtype.pas:911-1266, :1824-2075).
"""

from __future__ import annotations

import re

from delphi_pdf_parser_spark.pdfcore import lexer as lx
from delphi_pdf_parser_spark.pdfcore.cos import IndirectRef, Name
from delphi_pdf_parser_spark.pdfcore.parser import PdfSyntaxError

_ws_re = re.compile(rb"[\x00\t\n\x0c\r ]+")
_comment_re = re.compile(rb"%[^\r\n]*+")
_num_re = re.compile(rb"[+-]?(?:\d+(?:\.\d*)?|\.\d*)")
_name_re = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_hexesc_re = re.compile(rb"#([0-9a-fA-F]{2})")

_IS_WS = bytearray(256)
for _b in b"\x00\t\n\x0c\r ":
    _IS_WS[_b] = 1


class ClassicLexer(lx.Lexer):
    """``Lexer`` with the byte-branch ``lex()``."""

    __slots__ = ()

    def lex(self):
        data, end = self.data, self.end
        pos = self.pos
        while True:
            if pos >= end:
                self.pos = pos
                return lx.TOK_EOF, None
            c = data[pos]
            if _IS_WS[c]:
                m = _ws_re.match(data, pos, end)
                pos = m.end()
                continue
            if c == 0x25:  # %
                pos = _comment_re.match(data, pos, end).end()
                continue
            break
        if c == 0x2F:  # /
            m = _name_re.match(data, pos + 1, end)
            raw = m.group()
            self.pos = m.end()
            if b"#" in raw:
                raw = _hexesc_re.sub(
                    lambda mm: bytes([int(mm.group(1), 16)]), raw
                )
            return lx.TOK_NAME, raw.decode("latin-1")
        if c == 0x28:  # (
            self.pos = pos + 1
            return lx.TOK_STRING, self._lex_string()
        if c == 0x3C:  # <
            if pos + 1 < end and data[pos + 1] == 0x3C:
                self.pos = pos + 2
                return lx.TOK_OPEN_DICT, None
            self.pos = pos + 1
            return lx.TOK_STRING, self._lex_hex_string()
        if c == 0x3E:  # >
            if pos + 1 < end and data[pos + 1] == 0x3E:
                self.pos = pos + 2
                return lx.TOK_CLOSE_DICT, None
            self.pos = pos + 1
            return lx.TOK_ERROR, None
        if c == 0x5B:
            self.pos = pos + 1
            return lx.TOK_OPEN_ARRAY, None
        if c == 0x5D:
            self.pos = pos + 1
            return lx.TOK_CLOSE_ARRAY, None
        if c == 0x7B:
            self.pos = pos + 1
            return lx.TOK_OPEN_BRACE, None
        if c == 0x7D:
            self.pos = pos + 1
            return lx.TOK_CLOSE_BRACE, None
        if c == 0x29:  # stray )
            self.pos = pos + 1
            return lx.TOK_ERROR, None
        if c in b"+-.0123456789":
            m = _num_re.match(data, pos, end)
            if m is None:  # lone +/- : reference returns empty number (int 0)
                self.pos = pos + 1
                return lx.TOK_INT, 0
            raw = m.group()
            self.pos = m.end()
            if b"." in raw:
                try:
                    return lx.TOK_REAL, float(raw)
                except ValueError:
                    return lx.TOK_REAL, 0.0
            try:
                return lx.TOK_INT, int(raw)
            except ValueError:
                return lx.TOK_INT, 0
        # regular keyword chars
        m = _name_re.match(data, pos, end)
        raw = m.group()
        if not raw:  # defensive: unclassifiable delimiter byte
            self.pos = pos + 1
            return lx.TOK_ERROR, None
        self.pos = m.end()
        kw = lx._KEYWORD_TOKENS.get(raw)
        if kw is not None:
            return kw, raw
        return lx.TOK_KEYWORD, raw

    def _lex_string(self) -> bytes:
        data, end = self.data, self.end
        pos = self.pos
        close = data.find(0x29, pos, end)
        if close >= 0:
            body = data[pos:close]
            if (
                0x5C not in body
                and 0x28 not in body
                and 10 not in body
                and 13 not in body
            ):
                self.pos = close + 1
                return body
        out = bytearray()
        bal = 1
        while pos < end:
            c = data[pos]
            pos += 1
            if c == 0x28:
                bal += 1
                out.append(c)
            elif c == 0x29:
                bal -= 1
                if bal == 0:
                    break
                out.append(c)
            elif c == 0x5C:  # backslash
                if pos >= end:
                    break
                c = data[pos]
                pos += 1
                if c == 0x6E:
                    out.append(10)
                elif c == 0x72:
                    out.append(13)
                elif c == 0x74:
                    out.append(9)
                elif c == 0x62:
                    out.append(8)
                elif c == 0x66:
                    out.append(12)
                elif c in (0x28, 0x29, 0x5C):
                    out.append(c)
                elif 0x30 <= c <= 0x39:
                    oct_v = c - 0x30
                    for _ in range(2):
                        if pos < end and 0x30 <= data[pos] <= 0x39:
                            oct_v = oct_v * 8 + (data[pos] - 0x30)
                            pos += 1
                        else:
                            break
                    out.append(oct_v & 0xFF)
                elif c == 10:
                    pass  # line continuation
                elif c == 13:
                    if pos < end and data[pos] == 10:
                        pos += 1
                else:
                    out.append(c)
            elif c == 10:
                pass  # reference drops raw LF in literals
            elif c == 13:
                pass  # reference drops raw CR in literals
            else:
                out.append(c)
        self.pos = pos
        return bytes(out)

    def _lex_hex_string(self) -> bytes:
        out = bytearray()
        data, end = self.data, self.end
        pos = self.pos
        a = 0
        have_nibble = False
        while pos < end:
            c = data[pos]
            pos += 1
            if c == 0x3E:  # >
                break
            if _IS_WS[c]:
                continue
            v = -1
            if 0x30 <= c <= 0x39:
                v = c - 0x30
            elif 0x41 <= c <= 0x46:
                v = c - 0x41 + 10
            elif 0x61 <= c <= 0x66:
                v = c - 0x61 + 10
            if v < 0:
                continue  # reference skips non-hex bytes
            if have_nibble:
                out.append(a * 16 + v)
                have_nibble = False
            else:
                a = v
                have_nibble = True
        if have_nibble:
            out.append(a * 16)
        self.pos = pos
        return bytes(out)


def parse_array(lex) -> list:
    """Parse after the '[' token."""
    arr: list = []
    n = 0  # pending integer count (for `a b R` lookahead)
    a = b = 0
    while True:
        tok, val = lex.lex()
        if tok in (lx.TOK_CLOSE_ARRAY, lx.TOK_EOF):
            break
        if tok == lx.TOK_INT:
            if n == 2:
                arr.append(a)
                a = b
                n = 1
            if n == 1:
                b = val
                n = 2
            else:
                a = val
                n = 1
            continue
        if tok == lx.TOK_R:
            if n == 2:
                arr.append(IndirectRef(a, b))
                n = 0
                continue
            raise PdfSyntaxError("cannot parse indirect reference in array")
        # flush pending ints
        if n >= 1:
            arr.append(a)
        if n == 2:
            arr.append(b)
        n = 0
        if tok == lx.TOK_OPEN_ARRAY:
            arr.append(parse_array(lex))
        elif tok == lx.TOK_OPEN_DICT:
            arr.append(parse_dict(lex))
        elif tok == lx.TOK_NAME:
            arr.append(Name(val))
        elif tok == lx.TOK_REAL:
            arr.append(val)
        elif tok == lx.TOK_STRING:
            arr.append(val)
        elif tok == lx.TOK_TRUE:
            arr.append(True)
        elif tok == lx.TOK_FALSE:
            arr.append(False)
        elif tok == lx.TOK_NULL:
            arr.append(None)
        else:
            raise PdfSyntaxError(f"cannot parse token {tok} in array")
    if n >= 1:
        arr.append(a)
    if n == 2:
        arr.append(b)
    return arr


def parse_dict(lex) -> dict:
    """Parse after the '<<' token; an ``ID`` keyword also ends it."""
    d: dict = {}
    while True:
        tok, val = lex.lex()
        if tok == lx.TOK_CLOSE_DICT or tok == lx.TOK_EOF:
            return d
        if tok == lx.TOK_KEYWORD and val == b"ID":
            return d
        if tok != lx.TOK_NAME:
            raise PdfSyntaxError("expected name as dict key")
        key = val
        tok, val = lex.lex()
        if tok == lx.TOK_OPEN_ARRAY:
            d[key] = parse_array(lex)
        elif tok == lx.TOK_OPEN_DICT:
            d[key] = parse_dict(lex)
        elif tok == lx.TOK_NAME:
            d[key] = Name(val)
        elif tok == lx.TOK_REAL:
            d[key] = val
        elif tok == lx.TOK_STRING:
            d[key] = val
        elif tok == lx.TOK_TRUE:
            d[key] = True
        elif tok == lx.TOK_FALSE:
            d[key] = False
        elif tok == lx.TOK_NULL:
            d[key] = None
        elif tok == lx.TOK_INT:
            a = val
            save = lex.tell()
            tok2, val2 = lex.lex()
            if tok2 == lx.TOK_INT:
                b = val2
                save2 = lex.tell()
                tok3, _ = lex.lex()
                if tok3 == lx.TOK_R:
                    d[key] = IndirectRef(a, b)
                    continue
                lex.seek(save2)
                # two bare ints: reference keeps only the first as value
                d[key] = a
                lex.seek(save)
                continue
            lex.seek(save)
            d[key] = a
        else:
            raise PdfSyntaxError(f"cannot parse token {tok} as dict value")


def parse_stm_obj(lex):
    """One bare value inside an object stream."""
    tok, val = lex.lex()
    if tok == lx.TOK_OPEN_ARRAY:
        return parse_array(lex)
    if tok == lx.TOK_OPEN_DICT:
        return parse_dict(lex)
    if tok == lx.TOK_NAME:
        return Name(val)
    if tok == lx.TOK_REAL:
        return val
    if tok == lx.TOK_STRING:
        return val
    if tok == lx.TOK_TRUE:
        return True
    if tok == lx.TOK_FALSE:
        return False
    if tok == lx.TOK_NULL:
        return None
    if tok == lx.TOK_INT:
        return val
    raise PdfSyntaxError("syntax error in object stream object")


def parse_ind_obj(lex):
    """``num gen obj ... (endobj|stream)`` -> (obj, num, gen, stm_ofs)."""
    tok, val = lex.lex()
    if tok != lx.TOK_INT:
        raise PdfSyntaxError("expected object number")
    num = val
    tok, val = lex.lex()
    if tok != lx.TOK_INT:
        raise PdfSyntaxError("expected generation number")
    gen = val
    tok, val = lex.lex()
    if tok != lx.TOK_OBJ:
        raise PdfSyntaxError("expected 'obj' keyword")

    tok, val = lex.lex()
    obj = None
    skip_tail = False
    if tok == lx.TOK_OPEN_ARRAY:
        obj = parse_array(lex)
    elif tok == lx.TOK_OPEN_DICT:
        obj = parse_dict(lex)
    elif tok == lx.TOK_NAME:
        obj = Name(val)
    elif tok == lx.TOK_REAL:
        obj = val
    elif tok == lx.TOK_STRING:
        obj = val
    elif tok == lx.TOK_TRUE:
        obj = True
    elif tok == lx.TOK_FALSE:
        obj = False
    elif tok == lx.TOK_NULL:
        obj = None
    elif tok == lx.TOK_INT:
        a = val
        tok, val = lex.lex()
        if tok in (lx.TOK_STREAM, lx.TOK_ENDOBJ):
            obj = a
            skip_tail = True
        elif tok == lx.TOK_INT:
            b = val
            tok, _ = lex.lex()
            if tok == lx.TOK_R:
                obj = IndirectRef(a, b)
            else:
                raise PdfSyntaxError("expected R keyword")
        else:
            raise PdfSyntaxError("expected R keyword")
    elif tok == lx.TOK_ENDOBJ:
        obj = None
        skip_tail = True
    else:
        raise PdfSyntaxError("syntax error in indirect object")

    if not skip_tail:
        tok, val = lex.lex()

    stm_ofs = 0
    if tok == lx.TOK_STREAM:
        c = lex.read_byte()
        while c == 0x20:
            c = lex.read_byte()
        if c == 13:
            if lex.peek_byte() == 10:
                lex.read_byte()
        stm_ofs = lex.tell()
    return obj, num, gen, stm_ofs
