"""PDF tokenizer (lexer).

Token semantics follow the reference's ``pdf_lex``
(src/vcl/digcommtype.pas:790-906; string lexer :198-370, number :373-486,
name :514-602, hex string :629-672, keyword table :674-764):

- whitespace = {0, 9, 10, 12, 13, 32}; comments run to EOL
- literal strings: balanced parens, escapes \\n \\r \\t \\b \\f \\( \\) \\\\,
  1-3 digit octal; raw LF/CR inside the literal are *dropped* (a quirk of
  the reference's port, src/vcl/digcommtype.pas:341-355); any other
  backslash-escaped byte is emitted verbatim
- hex strings: whitespace skipped, odd trailing nibble makes the final byte
  ``a*16`` only when a second nibble arrived (reference keeps incomplete
  nibble unemitted; standard behavior pads with 0 — we emit pad-0 like the
  PDF spec since the reference never flushes the half byte, fixtures avoid
  odd-length hex)
- names: /Name with #xx hex escapes (standard decoding; the reference's
  escape path is buggy, our fixtures avoid ``#`` in names)
- numbers: [+-]? digits [. digits]; a second '.' terminates the token
- keywords: true false null obj endobj stream endstream startxref xref
  trailer R; everything else is TOK_KEYWORD with the raw text
"""

from __future__ import annotations

import re

# token kinds
TOK_ERROR = 0
TOK_EOF = 1
TOK_OPEN_ARRAY = 2
TOK_CLOSE_ARRAY = 3
TOK_OPEN_DICT = 4
TOK_CLOSE_DICT = 5
TOK_OPEN_BRACE = 6
TOK_CLOSE_BRACE = 7
TOK_NAME = 8
TOK_INT = 9
TOK_REAL = 10
TOK_STRING = 11
TOK_KEYWORD = 12
TOK_R = 13
TOK_TRUE = 14
TOK_FALSE = 15
TOK_NULL = 16
TOK_OBJ = 17
TOK_ENDOBJ = 18
TOK_STREAM = 19
TOK_ENDSTREAM = 20
TOK_XREF = 21
TOK_TRAILER = 22
TOK_STARTXREF = 23
TOK_NUMS = 24  # ContentTokens.fill() only: a number run, value list[float]

_KEYWORD_TOKENS = {
    b"R": TOK_R,
    b"true": TOK_TRUE,
    b"false": TOK_FALSE,
    b"null": TOK_NULL,
    b"obj": TOK_OBJ,
    b"endobj": TOK_ENDOBJ,
    b"stream": TOK_STREAM,
    b"endstream": TOK_ENDSTREAM,
    b"xref": TOK_XREF,
    b"trailer": TOK_TRAILER,
    b"startxref": TOK_STARTXREF,
}

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"

_ws_re = re.compile(rb"[\x00\t\n\x0c\r ]+")
_comment_re = re.compile(rb"%[^\r\n]*+")
_num_re = re.compile(rb"[+-]?(?:\d+(?:\.\d*)?|\.\d*)")
_name_re = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_hexesc_re = re.compile(rb"#([0-9a-fA-F]{2})")

_IS_WS = bytearray(256)
for _b in _WHITESPACE:
    _IS_WS[_b] = 1
_IS_DELIM = bytearray(256)
for _b in _DELIMS:
    _IS_DELIM[_b] = 1


class Lexer:
    """Byte-level scanner over an in-memory document.

    The whole document lives in memory (the ``html:binary`` column value);
    unlike the reference's 4 KB pull-stream window (src/vcl/FZ_mystreams.pas)
    we index directly into the bytes, which is both simpler and faster in
    Python.
    """

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, pos: int = 0, end: int | None = None):
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else end

    # --- byte-level helpers -------------------------------------------------
    def read_byte(self) -> int:
        if self.pos >= self.end:
            return -1
        b = self.data[self.pos]
        self.pos += 1
        return b

    def peek_byte(self) -> int:
        if self.pos >= self.end:
            return -1
        return self.data[self.pos]

    def unread_byte(self) -> None:
        if self.pos > 0:
            self.pos -= 1

    def seek(self, ofs: int) -> None:
        self.pos = max(0, min(ofs, self.end))

    def tell(self) -> int:
        return self.pos

    def is_eof(self) -> bool:
        return self.pos >= self.end

    def read(self, n: int) -> bytes:
        out = self.data[self.pos : min(self.pos + n, self.end)]
        self.pos += len(out)
        return out

    def read_line(self) -> bytes:
        """Read to EOL, consuming the terminator (CR, LF or CRLF)."""
        start = self.pos
        data, end = self.data, self.end
        i = start
        while i < end and data[i] not in (10, 13):
            i += 1
        line = data[start:i]
        if i < end:
            if data[i] == 13 and i + 1 < end and data[i + 1] == 10:
                i += 2
            else:
                i += 1
        self.pos = i
        return line

    # --- token-level --------------------------------------------------------
    def lex(self):
        """Return (tok_kind, value).

        value is: bytes for TOK_STRING/TOK_KEYWORD, str for TOK_NAME,
        int for TOK_INT, float for TOK_REAL, None otherwise.
        """
        data, end = self.data, self.end
        pos = self.pos
        while True:
            if pos >= end:
                self.pos = pos
                return TOK_EOF, None
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
            return TOK_NAME, raw.decode("latin-1")
        if c == 0x28:  # (
            self.pos = pos + 1
            return TOK_STRING, self._lex_string()
        if c == 0x3C:  # <
            if pos + 1 < end and data[pos + 1] == 0x3C:
                self.pos = pos + 2
                return TOK_OPEN_DICT, None
            self.pos = pos + 1
            return TOK_STRING, self._lex_hex_string()
        if c == 0x3E:  # >
            if pos + 1 < end and data[pos + 1] == 0x3E:
                self.pos = pos + 2
                return TOK_CLOSE_DICT, None
            self.pos = pos + 1
            return TOK_ERROR, None
        if c == 0x5B:
            self.pos = pos + 1
            return TOK_OPEN_ARRAY, None
        if c == 0x5D:
            self.pos = pos + 1
            return TOK_CLOSE_ARRAY, None
        if c == 0x7B:
            self.pos = pos + 1
            return TOK_OPEN_BRACE, None
        if c == 0x7D:
            self.pos = pos + 1
            return TOK_CLOSE_BRACE, None
        if c == 0x29:  # stray )
            self.pos = pos + 1
            return TOK_ERROR, None
        if c in b"+-.0123456789":
            m = _num_re.match(data, pos, end)
            if m is None:  # lone +/- : reference returns empty number (int 0)
                self.pos = pos + 1
                return TOK_INT, 0
            raw = m.group()
            self.pos = m.end()
            if b"." in raw:
                try:
                    return TOK_REAL, float(raw)
                except ValueError:
                    return TOK_REAL, 0.0
            try:
                return TOK_INT, int(raw)
            except ValueError:
                return TOK_INT, 0
        # regular keyword chars
        m = _name_re.match(data, pos, end)
        raw = m.group()
        if not raw:  # defensive: unclassifiable delimiter byte
            self.pos = pos + 1
            return TOK_ERROR, None
        self.pos = m.end()
        kw = _KEYWORD_TOKENS.get(raw)
        if kw is not None:
            return kw, raw
        return TOK_KEYWORD, raw

    def _lex_string(self) -> bytes:
        """Literal string body after '('. Mirrors lex_string
        (src/vcl/digcommtype.pas:198-370) including the port's quirk of
        dropping raw CR/LF bytes inside the literal."""
        data, end = self.data, self.end
        pos = self.pos
        # fast path: an unnested, escape-free, newline-free literal ends at
        # the next ')' — C-speed find + membership checks
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


# --- bulk content-stream tokenizer ------------------------------------------
# One anchored C-level match per simple token (numbers, names, clean
# literal strings, [ ], keywords), each match taking its leading
# whitespace and comments with it; anything position-dependent or rare
# (escaped/nested strings, hex strings, dicts, stray delimiters) falls
# back to Lexer.lex() one token at a time. Semantics are identical to
# lex() for every byte sequence: the bulk patterns are exact subsets of
# the corresponding lex() branches, and a failed match hands the
# position to the classic scanner. The whitespace prefix is possessive,
# so a long run of whitespace costs no backtracking state.

_SKIP_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+")

# A run member: a whole number token (never followed by a digit or
# '.') with at most 15 integer digits, so float(member) equals the
# classic float(int(member)) (except "-0", see _bulk_fill); longer
# integers stay single tokens and keep their classic failure modes. A
# member that fails the guard only ends the run before it, so a run
# costs one linear scan.
_RUN_MEMBER = rb"[+-]?(?:\d{1,15}(?:\.\d*)?|\.\d+)(?![\d.])"


# groups: nums=1 num=2 str=3 sbody=4 name=5 kw=6 arr=7 (a 'str' match
# reports lastindex 3, not 4); nums: two or more plain numbers separated
# only by whitespace (not NUL or comments) become one TOK_NUMS token
_RUN_TOKEN_RE = re.compile(
    _SKIP_RE.pattern
    + rb"(?:(?P<nums>" + _RUN_MEMBER + rb"(?:[\t\n\x0c\r ]++" + _RUN_MEMBER + rb")++)"
    rb"|(?P<num>[+-]?(?:\d+(?:\.\d*)?|\.\d+))"
    rb"|(?P<str>\((?P<sbody>[^()\\\r\n]*+)\))"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    rb"|(?P<kw>[^\x00\t\n\x0c\r ()<>\[\]{}/%+\-.0-9][^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    rb"|(?P<arr>[\[\]]))"
)

_BULK_CAP = 8192  # tokens per fill (bounds buffering on giant streams)


def _bulk_fill(lexer: "Lexer") -> list:
    """Tokenize from lexer.pos while tokens stay simple; returns
    [(tok, val, endpos), ...] and leaves lexer.pos after the last emitted
    token (or after any trailing whitespace and comments when stopping at
    a complex byte, which the classic scanner then handles)."""
    data = lexer.data
    pos = lexer.pos
    buf: list = []
    append = buf.append
    t_real, t_int, t_str, t_name = TOK_REAL, TOK_INT, TOK_STRING, TOK_NAME
    t_kw, t_oarr, t_carr, t_nums = (
        TOK_KEYWORD, TOK_OPEN_ARRAY, TOK_CLOSE_ARRAY, TOK_NUMS,
    )
    kwmap_get = _KEYWORD_TOKENS.get
    for m in iter(_RUN_TOKEN_RE.scanner(data, pos, lexer.end).match, None):
        pos = m.end()
        g = m.lastindex
        if g == 1:  # nums
            raw = m[1]
            if b"-0" in raw:
                # an integer -0 is +0.0 in the classic float(int(raw))
                append((t_nums, [
                    float(p) if b"." in p else float(int(p)) for p in raw.split()
                ], pos))
            else:
                append((t_nums, list(map(float, raw.split())), pos))
        elif g == 2:  # num
            raw = m[2]
            if b"." in raw:
                append((t_real, float(raw), pos))
            else:
                append((t_int, int(raw), pos))
        elif g == 6:  # kw
            raw = m[6]
            append((kwmap_get(raw, t_kw), raw, pos))
        elif g == 3:  # str
            append((t_str, m[4], pos))
        elif g == 5:  # name
            raw = m[5][1:]
            if b"#" in raw:
                raw = _hexesc_re.sub(
                    lambda mm: bytes([int(mm.group(1), 16)]), raw
                )
            append((t_name, raw.decode("latin-1"), pos))
        else:  # arr
            append((t_oarr if data[pos - 1] == 0x5B else t_carr, None, pos))
        if len(buf) >= _BULK_CAP:
            break
    else:
        pos = _SKIP_RE.match(data, pos, lexer.end).end()
    lexer.pos = pos
    return buf


class ContentTokens:
    """Token cursor over a content stream: ``fill()`` hands out the stream
    one bulk-lexed buffer at a time, and ``handoff(end)`` rewinds the
    underlying Lexer to just after a consumed token, for consumers that
    need raw bytes or tell/seek (inline-image payloads, dict/array object
    parsing); the next ``fill()`` continues where that consumer stopped."""

    __slots__ = ("lexer", "_pending")

    def __init__(self, lexer: Lexer):
        self.lexer = lexer
        self._pending: list = []

    def fill(self) -> list:
        """The next buffer of (tok, val, end) tuples: the bulk-lexed
        simple tokens (TOK_NUMS value: list of floats), or else the one
        complex token the classic scanner reads. The caller consumes the
        buffer whole, or stops after some token and calls
        ``handoff(end)`` with that token's end."""
        lexer = self.lexer
        buf = _bulk_fill(lexer)
        if not buf:
            tok, val = lexer.lex()
            buf = [(tok, val, lexer.pos)]
        return buf

    def handoff(self, end: int) -> Lexer:
        """The Lexer positioned at ``end``, the end of the last token
        the caller consumed from ``fill()``."""
        lexer = self.lexer
        lexer.pos = end
        return lexer

    def lex(self):
        """The next (tok, val) from ``fill()`` with each number of a run
        as its own TOK_REAL, so a token tally matches the classic
        scanner's (the benchmark's per-page token count reads it)."""
        pending = self._pending
        if not pending:
            for tok, val, _end in reversed(self.fill()):
                if tok == TOK_NUMS:
                    pending.extend((TOK_REAL, v) for v in reversed(val))
                else:
                    pending.append((tok, val))
        return pending.pop()
