"""COS object parser: one recursive value reader behind the entry points.

Mirrors the reference's pdf_parse_array / pdf_parse_dict / pdf_parse_ind_obj
(src/vcl/digcommtype.pas:911-1084, :1087-1266, :1883-2075) including:

- the ``a b R`` three-token lookahead inside arrays and dicts
- dict parsing terminating at an ``ID`` keyword (inline images)
- the stream-offset rule after the ``stream`` keyword: skip spaces, then an
  optional CR, then an optional LF (src/vcl/digcommtype.pas:2038-2056)
"""

from __future__ import annotations

from .cos import IndirectRef, Name
from . import lexer as lx


class PdfSyntaxError(Exception):
    pass


def _value(lex: lx.Lexer, tok: int, val):
    """The value whose first token is (tok, val), read to its end: the
    one token->value switch of arrays, dicts, object-stream members and
    indirect objects. An int comes back bare; arrays and dicts apply
    their own ``a b R`` rules here, indirect objects in parse_ind_obj.
    A nested array or dict recurses here directly, one frame per level."""
    if tok == lx.TOK_NAME:
        return Name(val)
    if tok == lx.TOK_INT or tok == lx.TOK_REAL or tok == lx.TOK_STRING:
        return val
    if tok == lx.TOK_OPEN_DICT:
        d: dict = {}
        while True:
            tok, key = lex.lex()
            if tok == lx.TOK_CLOSE_DICT or tok == lx.TOK_EOF:
                return d
            if tok == lx.TOK_KEYWORD and key == b"ID":
                return d
            if tok != lx.TOK_NAME:
                raise PdfSyntaxError("expected name as dict key")
            tok, val = lex.lex()
            if tok == lx.TOK_INT:
                save = lex.tell()
                tok, b = lex.lex()
                if tok == lx.TOK_INT and lex.lex()[0] == lx.TOK_R:
                    d[key] = IndirectRef(val, b)
                    continue
                # two bare ints: reference keeps only the first as value
                lex.seek(save)
                d[key] = val
            else:
                d[key] = _value(lex, tok, val)
    if tok == lx.TOK_OPEN_ARRAY:
        arr: list = []
        n = 0  # pending integer count (for `a b R` lookahead)
        a = b = 0
        while True:
            tok, val = lex.lex()
            if tok == lx.TOK_CLOSE_ARRAY or tok == lx.TOK_EOF:
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
            arr.append(_value(lex, tok, val))
        if n >= 1:
            arr.append(a)
        if n == 2:
            arr.append(b)
        return arr
    if tok == lx.TOK_TRUE:
        return True
    if tok == lx.TOK_FALSE:
        return False
    if tok == lx.TOK_NULL:
        return None
    raise PdfSyntaxError(f"cannot parse token {tok} as a value")


def parse_array(lex: lx.Lexer) -> list:
    """Parse after the '[' token."""
    return _value(lex, lx.TOK_OPEN_ARRAY, None)


def parse_dict(lex: lx.Lexer) -> dict:
    """Parse after the '<<' token.  Also terminates (without error) at an
    ``ID`` keyword so inline-image dictionaries parse (reference:
    src/vcl/digcommtype.pas:1126-1133)."""
    return _value(lex, lx.TOK_OPEN_DICT, None)


def parse_stm_obj(lex: lx.Lexer):
    """Parse one object inside an object stream (pdf_parse_stm_obj,
    src/vcl/digcommtype.pas:1824-1881): a bare value, no obj/endobj."""
    tok, val = lex.lex()
    return _value(lex, tok, val)


def parse_ind_obj(lex: lx.Lexer):
    """Parse ``num gen obj ... (endobj|stream)``.

    Returns (obj, num, gen, stm_ofs); stm_ofs==0 when there is no stream
    payload (object numbers in valid xrefs never sit at offset 0, which is
    inside the %PDF header — same sentinel the reference uses).
    """
    tok, num = lex.lex()
    if tok != lx.TOK_INT:
        raise PdfSyntaxError("expected object number")
    tok, gen = lex.lex()
    if tok != lx.TOK_INT:
        raise PdfSyntaxError("expected generation number")
    if lex.lex()[0] != lx.TOK_OBJ:
        raise PdfSyntaxError("expected 'obj' keyword")

    tok, val = lex.lex()
    if tok == lx.TOK_ENDOBJ:
        obj = None
    elif tok == lx.TOK_INT:
        # `a stream|endobj` is the int a; otherwise `a b R` must follow
        obj = val
        tok, b = lex.lex()
        if tok == lx.TOK_INT and lex.lex()[0] == lx.TOK_R:
            obj = IndirectRef(val, b)
            tok = lex.lex()[0]
        elif tok != lx.TOK_STREAM and tok != lx.TOK_ENDOBJ:
            raise PdfSyntaxError("expected R keyword")
    else:
        obj = _value(lex, tok, val)
        tok = lex.lex()[0]

    stm_ofs = 0
    if tok == lx.TOK_STREAM:
        # spaces, then CR LF, CR or LF; with no EOL the reference warns
        # 'line feed missing' and keeps the position after the byte it
        # consumed looking for one
        c = lex.read_byte()
        while c == 0x20:
            c = lex.read_byte()
        if c == 13 and lex.peek_byte() == 10:
            lex.read_byte()
        stm_ofs = lex.tell()
    # TOK_ENDOBJ / anything else: stm_ofs stays 0
    return obj, num, gen, stm_ofs
