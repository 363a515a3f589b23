"""PDF tokenizer (lexer).

Token semantics follow the reference's ``pdf_lex``
(src/vcl/digcommtype.pas:790-906; string lexer :198-370, number :373-486,
name :514-602, hex string :629-672, keyword table :674-764):

- whitespace = {0, 9, 10, 12, 13, 32}; comments run to EOL
- literal strings: balanced parens, escapes \\n \\r \\t \\b \\f \\( \\) \\\\,
  1-3 digit octal; raw LF/CR inside the literal are *dropped* (a quirk of
  the reference's port, src/vcl/digcommtype.pas:341-355); any other
  backslash-escaped byte is emitted verbatim
- hex strings: every non-hex byte skipped; an odd trailing nibble is
  padded with 0 like the PDF spec (the reference never flushes the half
  byte; fixtures avoid odd-length hex)
- names: /Name with #xx hex escapes (standard decoding; the reference's
  escape path is buggy, our fixtures avoid ``#`` in names)
- numbers: [+-]? digits [. digits]; a second '.' terminates the token
- keywords: true false null obj endobj stream endstream startxref xref
  trailer R; everything else is TOK_KEYWORD with the raw text
- a lone sign is the number 0; a stray ``)`` or ``>`` is TOK_ERROR

One regex grammar (``_TOKEN_RE``) reads every token kind: ``Lexer.lex()``
is one anchored match, and ``ContentTokens.fill()`` runs the same
alternatives behind a number-run and a clean-literal alternative, each
of which also takes the operator keyword after it.
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
# ContentTokens.fill() only: a number run, value list[float], and an
# operator with its operands, value (operands, keyword bytes): numbers
# (list[float]) or one escape-free literal string (bytes)
TOK_NUMS = 24
TOK_NUMS_KW = 25
TOK_STRING_KW = 26

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

# (tok, val) of the tokens the _FIXED alternative matches; b"" is the end
# of the data
_FIXED = {
    b"[": (TOK_OPEN_ARRAY, None),
    b"]": (TOK_CLOSE_ARRAY, None),
    b"<<": (TOK_OPEN_DICT, None),
    b">>": (TOK_CLOSE_DICT, None),
    b"{": (TOK_OPEN_BRACE, None),
    b"}": (TOK_CLOSE_BRACE, None),
    b")": (TOK_ERROR, None),
    b">": (TOK_ERROR, None),
    b"+": (TOK_INT, 0),  # a lone sign: the reference's empty number
    b"-": (TOK_INT, 0),
    b"": (TOK_EOF, None),
}

_IS_WS = bytearray(256)
for _b in b"\x00\t\n\x0c\r ":
    _IS_WS[_b] = 1

_NOT_HEX = bytes(c for c in range(256) if c not in b"0123456789ABCDEFabcdef")
_hexesc_re = re.compile(rb"#([0-9a-fA-F]{2})")

# --- the token grammar ---------------------------------------------------
# Each match takes its leading whitespace and comments with it (the
# possessive skip prefix costs no backtracking state on a long run) and
# then one token; the alternative that matched is the match's lastindex:
# one of the K_* below in _TOKEN_RE, one more in _FILL_RE, which puts a
# number-run alternative in front. Every byte sequence matches one
# alternative, so neither scanner has a fallback.
_SKIP = rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+"
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_KEYWORD = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%+\-.0-9]" + _REGULAR + rb"*+"
_CLEAN_LITERAL = rb"\(([^()\\\r\n]*+)\)"  # no escapes, nesting or EOLs
K_NUM, K_STR, K_NAME, K_KW, K_FIXED, K_LIT, K_HEX = range(1, 8)
_KINDS = (
    rb"([+-]?(?:\d+(?:\.\d*)?|\.\d*))"  # K_NUM
    rb"|" + _CLEAN_LITERAL  # K_STR
    + rb"|/(" + _REGULAR + rb"*+)"  # K_NAME
    rb"|(" + _KEYWORD + rb")"  # K_KW
    rb"|(<<|>>|[\[\]{})>+\-]|\Z)"  # K_FIXED
    rb"|(\()"  # K_LIT: a literal for the escape/nesting walk
    rb"|<([^>]*+)>?"  # K_HEX
)
_TOKEN_RE = re.compile(_SKIP + rb"(?:" + _KINDS + rb")")

# A run member: a whole number token (never followed by a digit or
# '.') with at most 15 integer digits, so float(member) equals the
# float(int(member)) the interpreter pushes for a single int (except
# "-0", see fill); longer integers stay single tokens and keep their
# failure modes. A member that fails
# the guard only ends the run before it, so a run costs one linear scan.
_RUN_MEMBER = rb"[+-]?(?:\d{1,15}(?:\.\d*)?|\.\d+)(?![\d.])"
# plain numbers separated only by whitespace (not NUL or comments), and
# an escape-free literal, each optionally followed by the keyword that
# operates on them: groups 1-2 and 3-4 in front of the _KINDS groups
_OPERATOR = rb"(?:[\t\n\x0c\r ]*+(" + _KEYWORD + rb"))?"
_FILL_RE = re.compile(
    _SKIP
    + rb"(?:(" + _RUN_MEMBER + rb"(?:[\t\n\x0c\r ]++" + _RUN_MEMBER + rb")*+)"
    + _OPERATOR + rb"|" + _CLEAN_LITERAL + _OPERATOR + rb"|" + _KINDS + rb")"
)
_FILL_KINDS = 4  # the groups in front of the _KINDS groups in _FILL_RE

_BULK_CAP = 8192  # tokens per fill (bounds buffering on giant streams)


def hex_decode(digits: bytes) -> bytes:
    """The bytes spelled by the hex digits in ``digits``: every other byte
    is skipped and an odd last nibble is padded with 0 (hex strings and
    ASCIIHexDecode)."""
    digits = digits.translate(None, _NOT_HEX)
    if len(digits) & 1:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _token(lexer: "Lexer", kind: int, raw: bytes, end: int):
    """(tok, val, end) of a grammar match of alternative ``kind`` whose
    group holds ``raw`` and that ends at ``end``; a K_LIT literal is read
    from ``end`` on and its token ends after the closing parenthesis."""
    if kind == K_NAME:
        if b"#" in raw:
            raw = _hexesc_re.sub(lambda mm: bytes([int(mm.group(1), 16)]), raw)
        return TOK_NAME, raw.decode("latin-1"), end
    if kind == K_NUM:
        if b"." in raw:
            try:
                return TOK_REAL, float(raw), end
            except ValueError:  # "." alone
                return TOK_REAL, 0.0, end
        try:
            return TOK_INT, int(raw), end
        except ValueError:  # past the int-from-string digit limit
            return TOK_INT, 0, end
    if kind == K_FIXED:
        tok, val = _FIXED[raw]
        return tok, val, end
    if kind == K_KW:
        return _KEYWORD_TOKENS.get(raw, TOK_KEYWORD), raw, end
    if kind == K_STR:
        return TOK_STRING, raw, end
    if kind == K_HEX:
        return TOK_STRING, hex_decode(raw), end
    return (TOK_STRING, *_literal(lexer.data, end, lexer.end))


def _numbers(lexer: "Lexer", raw: bytes, nums: list, end: int):
    """The token of the number run ``raw`` (values ``nums``) ending at
    ``end`` when no operator follows it: TOK_NUMS, or a single number's
    own token."""
    if len(nums) > 1:
        return TOK_NUMS, nums, end
    return _token(lexer, K_NUM, raw, end)


_LITERAL_SPECIAL = re.compile(rb"[()\\\r\n]")
_ESCAPES = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}


def _literal(data: bytes, pos: int, end: int) -> tuple[bytes, int]:
    """(body, end) of the literal string whose body starts at ``pos``.
    Mirrors lex_string (src/vcl/digcommtype.pas:198-370) including the
    port's quirk of dropping raw CR/LF bytes inside the literal. The
    bytes between two special ones (parentheses, backslash, CR, LF) are
    copied as one slice."""
    out = bytearray()
    bal = 1
    search = _LITERAL_SPECIAL.search
    while True:
        m = search(data, pos, end)
        if m is None:
            out += data[pos:end]
            return bytes(out), end
        i = m.start()
        out += data[pos:i]
        c = data[i]
        pos = i + 1
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
            esc = _ESCAPES.get(c)
            if esc is not None:
                out.append(esc)
            elif 0x30 <= c <= 0x39:
                oct_v = c - 0x30
                for _ in range(2):
                    if pos < end and 0x30 <= data[pos] <= 0x39:
                        oct_v = oct_v * 8 + (data[pos] - 0x30)
                        pos += 1
                    else:
                        break
                out.append(oct_v & 0xFF)
            elif c == 13:  # line continuation, CR or CRLF
                if pos < end and data[pos] == 10:
                    pos += 1
            elif c != 10:  # LF: line continuation
                out.append(c)  # \( \) \\ and any other byte: itself
        # else a raw CR or LF: dropped, as the reference does
    return bytes(out), pos


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
        m = _TOKEN_RE.match(self.data, self.pos, self.end)
        g = m.lastindex
        tok, val, self.pos = _token(self, g, m[g], m.end())
        return tok, val


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
        """The next buffer of (tok, val, end) tuples, the tokens of
        ``Lexer.lex()`` with each run of two or more numbers as one
        TOK_NUMS token (value: list of floats), and a run of one or more
        numbers or an escape-free literal string together with the
        keyword after it as one TOK_NUMS_KW or TOK_STRING_KW token (value:
        (operands, keyword)); consumers treat such a token as its parts.
        A buffer ends after a literal that needed the escape walk, after
        ``<<`` (where the interpreter hands off to the object parser) and
        at TOK_EOF. The caller consumes the buffer whole, or stops after
        some token and calls ``handoff(end)`` with that token's end."""
        lexer = self.lexer
        data = lexer.data
        pos = lexer.pos
        buf: list = []
        append = buf.append
        t_str, t_kw = TOK_STRING, TOK_KEYWORD
        t_nums_kw, t_str_kw = TOK_NUMS_KW, TOK_STRING_KW
        k_kw, k_fixed = K_KW + _FILL_KINDS, K_FIXED + _FILL_KINDS
        kwmap_get = _KEYWORD_TOKENS.get
        fixed = _FIXED
        for m in iter(_FILL_RE.scanner(data, pos, lexer.end).match, None):
            pos = m.end()
            g = m.lastindex
            if g <= 2:  # numbers, then maybe their operator
                raw = m[1]
                if b"-0" in raw:
                    # an integer -0 is +0.0 as float(int(raw))
                    nums = [float(p) if b"." in p else float(int(p)) for p in raw.split()]
                else:
                    nums = list(map(float, raw.split()))
                if g == 2:
                    kw = m[2]
                    op = kwmap_get(kw, t_kw)
                    if op == t_kw:
                        append((t_nums_kw, (nums, kw), pos))
                    else:  # R, true, obj, ...: a token of their own
                        append(_numbers(lexer, raw, nums, m.end(1)))
                        append((op, kw, pos))
                else:
                    append(_numbers(lexer, raw, nums, pos))
            elif g <= 4:  # an escape-free literal, then maybe its operator
                if g == 4:
                    kw = m[4]
                    op = kwmap_get(kw, t_kw)
                    if op == t_kw:
                        append((t_str_kw, (m[3], kw), pos))
                    else:
                        append((t_str, m[3], m.end(3) + 1))
                        append((op, kw, pos))
                else:
                    append((t_str, m[3], pos))
            elif g == k_kw:
                raw = m[g]
                append((kwmap_get(raw, t_kw), raw, pos))
            elif g == k_fixed:
                tok, val = fixed[m[g]]
                append((tok, val, pos))
                if tok == TOK_OPEN_DICT or tok == TOK_EOF:
                    break
            else:
                tok, val, pos = _token(lexer, g - _FILL_KINDS, m[g], pos)
                append((tok, val, pos))
                if g == K_LIT + _FILL_KINDS:
                    break  # the walk moved past the scanner's position
            if len(buf) >= _BULK_CAP:
                break
        lexer.pos = pos
        return buf

    def handoff(self, end: int) -> Lexer:
        """The Lexer positioned at ``end``, the end of the last token
        the caller consumed from ``fill()``."""
        lexer = self.lexer
        lexer.pos = end
        return lexer

    def lex(self):
        """The next (tok, val) from ``fill()`` with each number of a run
        as its own TOK_REAL and an operator token as its operands and its
        keyword, so a token tally matches ``Lexer.lex()``'s (the
        benchmark's per-page token count reads it)."""
        pending = self._pending
        if not pending:
            for tok, val, _end in reversed(self.fill()):
                if tok == TOK_NUMS_KW or tok == TOK_STRING_KW:
                    operands, kw = val
                    pending.append((TOK_KEYWORD, kw))
                    if tok == TOK_STRING_KW:
                        pending.append((TOK_STRING, operands))
                    else:
                        pending.extend((TOK_REAL, v) for v in reversed(operands))
                elif tok == TOK_NUMS:
                    pending.extend((TOK_REAL, v) for v in reversed(val))
                else:
                    pending.append((tok, val))
        return pending.pop()
