"""Content-stream interpreter: the Tj/TJ/Td/Tm text-positioning state
machine.

Mirrors src/vcl/pdf_interprets.pas:

- token loop with the in-text ``[`` fast path: numbers inside a TJ array
  become pdf_show_space immediately, strings are shown without building an
  array (pdf_run_stream :2436-2610)
- pdf_show_char (:431-519): tsm = [size*scale, 0, 0, size, 0, rise],
  ToUnicode-full then cid_to_ucs then '?', flush on font/wmode/trm-abcd
  (FLT_EPSILON) /render change, advance tm by (w0*size+char_space)*scale
  (wmode 0) or w1*size+char_space (wmode 1)
- word_space applied after raw code point 32 (pdf_show_string :546-580)
- flush_text (:298-430): every render mode reaches the text device (modes
  2/6 extract the same run twice via fill+stroke, 4/5/6/7 additionally via
  clip — reproduced deliberately)
- gsave/grestore stack of 64, Q underflow warns and stays (:729-786)
- Form XObjects run recursively with matrix + resource inheritance
  (:1037-1129, :1466-1557) — with an explicit depth guard (we add; the
  reference would stack-overflow)
- inline images: dict parsed, payload consumed, scan to EI (:1311-1361)
- ExtGState: only /Font affects text (:1131-1301)
"""

from __future__ import annotations

import zlib
from functools import reduce
from math import isfinite
from operator import add

import numpy as np

from . import lexer as lx
from .cos import Name, is_indirect, is_name, to_int, to_name, to_real
from .filters import a85_decode, ahx_decode
from .fonts import FontError, load_font
from .lexer import ContentTokens, Lexer
from .textdev import TextRun, _concat

FLT_EPSILON = 1.19209290e-07
IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
MAX_XOBJECT_DEPTH = 16
_NAN = float("nan")


def _translate(tx, ty):
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


def _codes_2byte(buf: bytes, spaces) -> list:
    """The codes of a string on a pure-2-byte encoding, as the general
    decode reads them: a big-endian byte pair inside some codespace, else
    one byte read as code 0."""
    codes = []
    pos = 0
    end = len(buf)
    while pos < end:
        if pos + 1 < end:
            code = (buf[pos] << 8) | buf[pos + 1]
            if any(lo <= code <= hi for _n, lo, hi in spaces):
                codes.append(code)
                pos += 2
                continue
        codes.append(0)
        pos += 1
    return codes


class GState:
    __slots__ = (
        "ctm",
        "char_space",
        "word_space",
        "scale",
        "leading",
        "font",
        "size",
        "render",
        "rise",
        # raster-sink state (unused on the text path)
        "fill_rgb",
        "stroke_rgb",
        "line_width",
        "clip_depth",
        "line_cap",
        "line_join",
        "miter_limit",
        "dash",
        "fill_alpha",
        "stroke_alpha",
        "smask",
        "fill_pattern",
        "stroke_pattern",
        "fill_cs",
        "stroke_cs",
        "blend",
    )

    def __init__(self, ctm):
        self.ctm = ctm
        self.char_space = 0.0
        self.word_space = 0.0
        self.scale = 1.0
        self.leading = 0.0
        self.font = None
        self.size = -1.0
        self.render = 0
        self.rise = 0.0
        self.fill_rgb = (0, 0, 0)
        self.stroke_rgb = (0, 0, 0)
        self.line_width = 1.0
        self.clip_depth = 0
        self.line_cap = 0
        self.line_join = 0
        self.miter_limit = 10.0
        self.dash = ((), 0.0)
        self.fill_alpha = 1.0
        self.stroke_alpha = 1.0
        self.smask = None  # (h, w) float soft-mask alpha, or None
        self.fill_pattern = None  # (pattern ref, resolved dict) or None
        self.stroke_pattern = None
        # non-device colorspace state: None (device operand-count
        # heuristic), ("indexed", rgb8_palette) or ("conv", ncomp, f)
        self.fill_cs = None
        self.stroke_cs = None
        self.blend = None  # BLEND_MODES callable, None = Normal

    def copy(self):
        g = GState(self.ctm)
        g.char_space = self.char_space
        g.word_space = self.word_space
        g.scale = self.scale
        g.leading = self.leading
        g.font = self.font
        g.size = self.size
        g.render = self.render
        g.rise = self.rise
        g.fill_rgb = self.fill_rgb
        g.stroke_rgb = self.stroke_rgb
        g.line_width = self.line_width
        g.clip_depth = self.clip_depth
        g.line_cap = self.line_cap
        g.line_join = self.line_join
        g.miter_limit = self.miter_limit
        g.dash = self.dash
        g.fill_alpha = self.fill_alpha
        g.stroke_alpha = self.stroke_alpha
        g.smask = self.smask
        g.fill_pattern = self.fill_pattern
        g.stroke_pattern = self.stroke_pattern
        g.fill_cs = self.fill_cs
        g.stroke_cs = self.stroke_cs
        g.blend = self.blend
        return g


class CSI:
    """pdf_csi_s equivalent (one per content-stream run)."""

    def __init__(self, doc, dev, ctm):
        self.doc = doc
        self.dev = dev
        # graphics-aware devices (the raster sink) receive path / image /
        # shading callbacks; the text device never pays for them beyond a
        # None check on operators that were no-ops anyway
        self.draw = dev if getattr(dev, "wants_graphics", False) else None
        self.gstack = [GState(ctm)]
        self.stack: list[float] = []
        self.name = ""
        self.string: bytes | None = None
        self.obj = None
        self.xbalance = 0
        self.in_text = 0
        self.text: TextRun | None = None
        self.tm = IDENTITY
        self.tlm = IDENTITY
        # (tm, codes, advance list) of the last string while its end x
        # is not folded into tm yet: see _show_codes and text_matrix
        self.tm_pending = None
        self.text_mode = 0
        self.top_ctm = ctm
        self.font_cache: dict = {}
        self.xobject_depth = 0
        # current path (user-space subpaths) + pending W/W* clip rule;
        # path_closed[i] marks subpath i closed (set by `re` and `h`,
        # PDF 32000 8.5.2.1: `re` defines a COMPLETE closed subpath) so
        # strokes paint the closing edge independent of s/b/b*
        self.path: list = []
        self.path_closed: list = []
        self.cur = None
        self.start = None
        self.pending_clip = None

    @property
    def gs(self) -> GState:
        return self.gstack[-1]

    # --- text assembly --------------------------------------------------------
    def flush_text(self):
        if self.text is None:
            return
        text = self.text
        self.text = None
        mode = self.text_mode
        dev = self.dev
        ctm = self.gs.ctm
        # doinvisible / doclip / dofill / dostroke per mode, all of which
        # call the text device's extract hook
        doinvisible = mode == 3
        doclip = mode in (4, 5, 6, 7)
        dofill = mode in (0, 2, 4, 6)
        dostroke = mode in (1, 2, 5, 6)
        if getattr(dev, "wants_text_mode", False):
            # mode-aware device (raster sink): one call, mode attached —
            # it must NOT paint invisible (mode 3) text
            dev.text(text, ctm, mode, self.gs)
            return
        if doinvisible:
            dev.text(text, ctm)
        if doclip:
            dev.text(text, ctm)
        if dofill:
            dev.text(text, ctm)
        if dostroke:
            dev.text(text, ctm)

    def text_matrix(self):
        """tm, with a deferred string end x folded in first, as long as
        tm is still the tuple that string left (any text-positioning
        operator since has replaced it, so its end x is never read)."""
        tm = self.tm
        pending = self.tm_pending
        if pending is not None:
            self.tm_pending = None
            if pending[0] is tm:
                ta, tb, tc, td, te, tf = tm
                end_e = reduce(add, map(pending[2].__getitem__, pending[1]), te)
                tm = self.tm = (ta, tb, tc, td, end_e, tf)
        return tm

    def show_space(self, tadj: float):
        gs = self.gs
        if gs.font is None:
            self.doc.note_failure("text_no_font")
            return
        if gs.font.wmode == 0:
            self.tm = _concat(_translate(tadj * gs.scale, 0), self.text_matrix())
        else:
            self.tm = _concat(_translate(0, tadj), self.text_matrix())

    def _run(self, font, a, b, c, d, wmode) -> TextRun:
        """The TextRun the next glyph joins: the current one while font,
        wmode, render mode and trm a-d (within FLT_EPSILON) are unchanged,
        else a new one after flushing it (pdf_show_char :431-519)."""
        t = self.text
        render = self.gs.render
        if (
            t is None
            or font.ident != t.font.ident
            or wmode != t.wmode
            or abs(a - t.trm[0]) > FLT_EPSILON
            or abs(b - t.trm[1]) > FLT_EPSILON
            or abs(c - t.trm[2]) > FLT_EPSILON
            or abs(d - t.trm[3]) > FLT_EPSILON
            or render != self.text_mode
        ):
            self.flush_text()
            t = self.text = TextRun(font, (a, b, c, d, 0.0, 0.0), wmode)
            self.text_mode = render
        return t

    def show_char(self, cid: int):
        gs = self.gs
        font = gs.font
        tsm = (gs.size * gs.scale, 0.0, 0.0, gs.size, 0.0, gs.rise)
        ucs = font.ucs_of(cid)
        gid = cid  # no FreeType: glyph id == cid (see fonts.py docstring)

        if font.wmode == 1:
            vx, vy, vw = font.get_vmtx(cid)
            tsm = (
                tsm[0],
                tsm[1],
                tsm[2],
                tsm[3],
                tsm[4] - vx * gs.size * 0.001,
                tsm[5] - vy * gs.size * 0.001,
            )

        tm = self.text_matrix()
        trm = _concat(tsm, tm)
        t = self._run(font, trm[0], trm[1], trm[2], trm[3], font.wmode)
        t.add(gid, ucs[0], trm[4], trm[5])
        for extra in ucs[1:]:
            t.add(-1, extra, trm[4], trm[5])

        if font.wmode == 0:
            w0 = font.get_hmtx_w(cid) * 0.001
            tx = (w0 * gs.size + gs.char_space) * gs.scale
            self.tm = _concat(_translate(tx, 0), tm)
        else:
            _vx, _vy, vw = font.get_vmtx(cid)
            w1 = vw * 0.001
            ty = w1 * gs.size + gs.char_space
            self.tm = _concat(_translate(0, ty), tm)

    def show_string(self, buf: bytes):
        gs = self.gs
        font = gs.font
        if font is None:
            self.doc.note_failure("text_no_font")
            return
        table = font.fast_table()
        if table:
            self._show_codes(buf, table.__getitem__, len(buf) >= 16)
            return
        if font.is_pure_2byte():
            codes = _codes_2byte(buf, font.encoding.codespaces)
            self._show_codes(codes, font.cid_entry, False)
            return
        pos = 0
        end = len(buf)
        enc = font.encoding
        while pos < end:
            cpt, pos = enc.decode(buf, pos)
            cid = enc.lookup(cpt)
            if cid >= 0:
                self.show_char(cid)
            else:
                self.doc.note_failure("cannot_encode_cpt")
            if cpt == 32:
                self.show_space(gs.word_space)

    def _show_codes(self, codes, entry, segment: bool):
        """Tight per-code loop for horizontal fonts whose codes map
        straight to (cid, ucs_tuple, hmtx_w) through ``entry`` (None: no
        CID). Semantically identical to decode->lookup->show_char per
        code: within one string trm a-d, render mode, font and wmode
        cannot change, so the run check runs once and the advance reduces
        to tm.e/f increments along (tm.a, tm.b). ``segment`` lets a
        horizontal 1-byte string become one TextRun segment instead."""
        gs = self.gs
        font = gs.font
        size, scale, rise = gs.size, gs.scale, gs.rise
        char_space, word_space = gs.char_space, gs.word_space
        ta, tb, tc, td, te, tf = self.text_matrix()
        sa = size * scale
        t = self._run(font, sa * ta, sa * tb, size * tc, size * td, 0)

        base_e = rise * tc
        base_f = rise * td
        k = size * 0.001

        if segment and tb == 0.0:
            # horizontal text (the overwhelmingly common case): tf never
            # moves; the end x is a left fold over the font's advance
            # table (the order np.cumsum adds in, which sum() does not
            # promise), and the text device reads glyph positions from
            # the same fold (at the segment's boundaries when its bound
            # holds, textdev._chunks). Per-char tx = (w*k +
            # char_space)*scale, word_space added after code 32,
            # identical to the scalar fold; the table is NaN at unmapped
            # and multi-codepoint codes, so a NaN end x sends the string
            # to the loop below (which records cannot_encode_cpt)
            ks, cs_s = k * scale, char_space * scale
            ws_s = word_space * scale if word_space != 0.0 else _NAN
            state = font.advance_state(ks, cs_s, ws_s, ta)
            if isfinite(te) and not codes.translate(None, state.finite):
                # finite start plus finite advances cannot end in NaN:
                # the string is a segment, and its end x is folded only
                # if something reads tm before replacing it
                t.add_segment(codes, te, base_e, base_f + tf, state)
                self.tm = tm = (ta, tb, tc, td, te, tf)
                self.tm_pending = (tm, codes, state.table)
                return
            end_e = reduce(add, map(state.table.__getitem__, codes), te)
            if end_e == end_e:
                t.add_segment(codes, te, base_e, base_f + tf, state)
                self.tm = (ta, tb, tc, td, end_e, tf)
                return

        parts = t.parts
        n0 = len(parts)
        append = parts.append
        for code in codes:
            ent = entry(code)
            if ent is None:
                self.doc.note_failure("cannot_encode_cpt")
                continue
            cid, ucs, w = ent
            ex = base_e + te
            ey = base_f + tf
            append((cid, ucs[0], ex, ey))
            for extra in ucs[1:]:
                append((-1, extra, ex, ey))
            tx = (w * k + char_space) * scale
            if code == 32:
                tx += word_space * scale
            te += tx * ta
            tf += tx * tb
        t.n += len(parts) - n0
        self.tm = (ta, tb, tc, td, te, tf)

    def show_text(self, obj):
        gs = self.gs
        if isinstance(obj, list):
            for item in obj:
                if isinstance(item, bytes):
                    self.show_string(item)
                else:
                    self.show_space(-to_real(item) * gs.size * 0.001)
        elif isinstance(obj, bytes):
            self.show_string(obj)

    # --- gstate ---------------------------------------------------------------
    def gsave(self):
        if len(self.gstack) >= 64:
            self.doc.note_failure("gstate_overflow")
            return
        g = self.gs.copy()
        if self.draw is not None:
            # remember the device clip depth at q time; Q unwinds to it
            g.clip_depth = self.draw.clip_depth()
        self.gstack.append(g)

    def grestore(self):
        if len(self.gstack) <= 1:
            self.doc.note_failure("gstate_underflow")
            return
        popped = self.gstack.pop()
        if self.draw is not None:
            self.draw.restore_clip(popped.clip_depth)


def run_buffer(csi: CSI, rdb, contents: bytes):
    """pdf_run_buffer (:2615-2642): re-entrant, saves in_text."""
    save_in_text = csi.in_text
    csi.in_text = 0
    try:
        run_stream(csi, rdb, Lexer(contents))
    finally:
        csi.in_text = save_in_text


def run_stream(csi: CSI, rdb, lexer: Lexer):
    csi.stack = []
    csi.name = ""
    csi.string = None
    csi.obj = None
    in_array = 0
    doc = csi.doc
    # bulk-lex the stream one buffer at a time; a consumer that needs the
    # raw Lexer (object parsing, inline-image payloads) takes it with
    # lex.handoff(end) at its token and the loop refills after it
    lex = ContentTokens(lexer)
    fill = lex.fill
    # hot-loop locals: token-kind constants and the branch order follow
    # measured frequency (numbers > keywords > strings > names); the
    # stack-overflow trim sits in the number branches (the only ones
    # that grow the stack) — observable state per token is unchanged
    T_NUMS, T_INT, T_REAL = lx.TOK_NUMS, lx.TOK_INT, lx.TOK_REAL
    T_NUMS_KW, T_STRING_KW = lx.TOK_NUMS_KW, lx.TOK_STRING_KW
    T_STRING, T_NAME, T_KW = lx.TOK_STRING, lx.TOK_NAME, lx.TOK_KEYWORD
    T_OPEN_ARR, T_CLOSE_ARR = lx.TOK_OPEN_ARRAY, lx.TOK_CLOSE_ARRAY
    T_OPEN_DICT, T_EOF = lx.TOK_OPEN_DICT, lx.TOK_EOF
    T_ENDSTREAM = lx.TOK_ENDSTREAM
    while True:
        for tok, val, end in fill():
            if tok == T_NUMS_KW or tok == T_STRING_KW:
                # an operator token: its operands as their own token
                # would be, then the keyword
                operands, val = val
                if in_array:
                    if tok == T_STRING_KW:
                        csi.show_string(operands)
                    else:
                        for v in operands:
                            csi.show_space(-v * csi.gs.size * 0.001)
                elif tok == T_STRING_KW:
                    csi.string = operands
                else:
                    stack = csi.stack
                    stack.extend(operands)
                    if len(stack) > 32:
                        for _ in range(len(stack) - 32):
                            doc.note_failure("stack_overflow")
                        csi.stack = stack[:32]
                tok = T_KW
            if in_array:
                if tok == T_CLOSE_ARR:
                    in_array = 0
                elif tok == T_NUMS:
                    for v in val:
                        csi.show_space(-v * csi.gs.size * 0.001)
                elif tok == T_INT or tok == T_REAL:
                    gs = csi.gs
                    csi.show_space(-float(val) * gs.size * 0.001)
                elif tok == T_STRING:
                    csi.show_string(val)
                elif tok == T_KW:
                    if val in (b"Tw", b"Tc"):
                        doc.note_failure("keyword_in_array")
                    else:
                        raise SyntaxError("syntax error in array")
                elif tok == T_EOF:
                    return
                else:
                    raise SyntaxError("syntax error in array")
                continue
            if tok == T_NUMS:
                stack = csi.stack
                stack.extend(val)
                if len(stack) > 32:
                    for _ in range(len(stack) - 32):
                        doc.note_failure("stack_overflow")
                    csi.stack = stack[:32]
            elif tok == T_KW:
                inline_image = val == b"BI"
                try:
                    # BI reads the raw payload from the handed-off Lexer
                    run_keyword(
                        csi, rdb, lex.handoff(end) if inline_image else None, val
                    )
                except SyntaxError:
                    raise
                except Exception:
                    doc.note_failure(
                        "keyword_error:" + val.decode("latin-1", "replace")
                    )
                csi.stack = []
                csi.name = ""
                csi.string = None
                csi.obj = None
                if inline_image:
                    break
            elif tok == T_STRING:
                csi.string = val
            elif tok == T_INT or tok == T_REAL:
                stack = csi.stack
                stack.append(float(val))
                if len(stack) > 32:
                    doc.note_failure("stack_overflow")
                    csi.stack = stack[:32]
            elif tok == T_NAME:
                csi.name = val
            elif tok == T_OPEN_ARR:
                if not csi.in_text:
                    from .parser import parse_array

                    csi.obj = parse_array(lex.handoff(end))
                    break
                in_array = 1
            elif tok == T_OPEN_DICT:
                from .parser import parse_dict

                csi.obj = parse_dict(lex.handoff(end))
                break
            elif tok == T_ENDSTREAM or tok == T_EOF:
                return
            elif tok in (
                lx.TOK_R,
                lx.TOK_TRUE,
                lx.TOK_FALSE,
                lx.TOK_NULL,
                lx.TOK_OBJ,
                lx.TOK_ENDOBJ,
                lx.TOK_XREF,
                lx.TOK_TRAILER,
                lx.TOK_STARTXREF,
            ):
                kw = val if isinstance(val, bytes) else b"?"
                try:
                    run_keyword(csi, rdb, None, kw)
                except SyntaxError:
                    raise
                except Exception:
                    doc.note_failure("keyword_error:" + kw.decode("latin-1", "replace"))
                csi.stack = []
                csi.name = ""
                csi.string = None
                csi.obj = None
            else:
                raise SyntaxError("syntax error in content stream")


def _st(csi: CSI, i: int) -> float:
    return csi.stack[i] if i < len(csi.stack) else 0.0


def run_keyword(csi: CSI, rdb, lex: Lexer | None, kw: bytes):
    """``lex`` is the raw Lexer after the operator (only BI reads it)."""
    # frequency-ordered fast heads (text-showing + positioning dominate
    # real content streams); the remaining chain is unchanged
    if kw in (b"Tj", b"TJ"):
        if csi.string:
            csi.show_string(csi.string)
        else:
            csi.show_text(csi.obj)
        return
    if kw == b"Tm":
        st = csi.stack
        if len(st) >= 6:
            csi.tm = csi.tlm = (st[0], st[1], st[2], st[3], st[4], st[5])
        else:
            csi.tm = csi.tlm = (*st, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)[:6]
        return
    if kw == b"Td":
        csi.tlm = _concat(_translate(_st(csi, 0), _st(csi, 1)), csi.tlm)
        csi.tm = csi.tlm
        return
    doc = csi.doc
    gs = csi.gs
    if kw == b"BT":
        csi.in_text = 1
        csi.tm = IDENTITY
        csi.tlm = IDENTITY
    elif kw == b"ET":
        csi.flush_text()
        etc = getattr(csi.dev, "end_text_clip", None)
        if etc is not None:
            etc()  # raster sink: apply accumulated Tr>=4 text clip
        csi.in_text = 0
    elif kw == b"Tc":
        gs.char_space = _st(csi, 0)
    elif kw == b"Tw":
        gs.word_space = _st(csi, 0)
    elif kw == b"Tz":
        csi.flush_text()
        gs.scale = _st(csi, 0) / 100.0
    elif kw == b"TL":
        gs.leading = _st(csi, 0)
    elif kw == b"Tf":
        gs.size = _st(csi, 0)
        gs.font = None
        fontdict = doc.get(rdb, "Font") if isinstance(rdb, dict) else None
        ref = fontdict.get(csi.name) if isinstance(fontdict, dict) else None
        if ref is None:
            doc.note_failure("font_resource_missing")
        else:
            try:
                gs.font = load_font(doc, rdb, ref, csi.font_cache)
            except FontError as e:
                doc.note_failure(e.code)
            except Exception:
                doc.note_failure("font_load_error")
    elif kw == b"Tr":
        gs.render = int(_st(csi, 0))
    elif kw == b"Ts":
        gs.rise = _st(csi, 0)
    elif kw == b"TD":
        gs.leading = -_st(csi, 1)
        csi.tlm = _concat(_translate(_st(csi, 0), _st(csi, 1)), csi.tlm)
        csi.tm = csi.tlm
    elif kw == b"T*":
        csi.tlm = _concat(_translate(0, -gs.leading), csi.tlm)
        csi.tm = csi.tlm
    elif kw == b"'":
        csi.tlm = _concat(_translate(0, -gs.leading), csi.tlm)
        csi.tm = csi.tlm
        if csi.string:
            csi.show_string(csi.string)
        else:
            csi.show_text(csi.obj)
    elif kw == b'"':
        gs.word_space = _st(csi, 0)
        gs.char_space = _st(csi, 1)
        csi.tlm = _concat(_translate(0, -gs.leading), csi.tlm)
        csi.tm = csi.tlm
        if csi.string:
            csi.show_string(csi.string)
        else:
            csi.show_text(csi.obj)
    elif kw == b"q":
        csi.gsave()
    elif kw == b"Q":
        csi.grestore()
    elif kw == b"cm":
        m = (
            _st(csi, 0),
            _st(csi, 1),
            _st(csi, 2),
            _st(csi, 3),
            _st(csi, 4),
            _st(csi, 5),
        )
        gs.ctm = _concat(m, gs.ctm)
    elif kw == b"gs":
        run_extgstate(csi, rdb)
    elif kw == b"Do":
        run_do(csi, rdb)
    elif kw == b"BI":
        run_inline_image(csi, rdb, lex)
    elif kw == b"BX":
        csi.xbalance += 1
    elif kw == b"EX":
        csi.xbalance -= 1
    elif kw == b"w":
        csi.flush_text()  # linewidth affects stroked-text render (run_w1)
        if csi.draw is not None:
            gs.line_width = _st(csi, 0)
    elif kw in (
        # color / colorspace setters flush buffered text (pdf_set_color &c)
        b"G", b"g", b"RG", b"rg", b"K", b"k",
        b"CS", b"cs", b"SC", b"SCN", b"sc", b"scn",
    ):
        csi.flush_text()
        if csi.draw is not None:
            _run_color(csi, rdb, kw)
    elif kw in (
        b"m", b"l", b"c", b"v", b"y", b"h", b"re",
        b"S", b"s", b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*", b"n",
        b"W", b"W*", b"sh",
    ):
        # path construction / painting / clip: no-ops for the text device,
        # real geometry when a raster device is attached
        if csi.draw is not None:
            _run_path_op(csi, rdb, kw)
    elif kw == b"J":
        if csi.draw is not None:
            gs.line_cap = int(_st(csi, 0))
    elif kw == b"j":
        if csi.draw is not None:
            gs.line_join = int(_st(csi, 0))
    elif kw == b"M":
        if csi.draw is not None:
            gs.miter_limit = _st(csi, 0)
    elif kw == b"d":
        if csi.draw is not None and isinstance(csi.obj, list):
            try:
                arr = tuple(
                    float(doc.resolve(v)) for v in csi.obj
                )
                gs.dash = (arr, _st(csi, 0))
            except (TypeError, ValueError):
                pass
    elif kw in (
        b"ri", b"i",
        b"MP", b"DP", b"BMC", b"BDC", b"EMC", b"d0", b"d1",
    ):
        pass
    else:
        if csi.xbalance == 0:
            doc.note_failure("unknown_keyword")


def _rgb8(vals) -> tuple:
    return tuple(
        int(round(max(0.0, min(1.0, float(v))) * 255.0)) for v in vals
    )


def _run_color(csi: CSI, rdb, kw: bytes):
    """Color operators for the raster sink. Device colorspaces are
    exact; sc/scn map by operand count (1 gray / 3 rgb / 4 cmyk); a
    pattern-name operand resolves through the resource /Pattern dict
    and arms the gstate pattern slot (tiling patterns replayed on the
    tile grid, shading patterns routed to fill_shade — the reference's
    pdf_show_pattern / fz_draw_begin_tile path)."""
    gs = csi.gs
    st = csi.stack
    stroke = kw in (b"G", b"RG", b"K", b"CS", b"SC", b"SCN")
    rgb = None
    if kw in (b"g", b"G") and len(st) >= 1:
        v = st[0]
        rgb = _rgb8((v, v, v))
    elif kw in (b"rg", b"RG") and len(st) >= 3:
        rgb = _rgb8(st[:3])
    elif kw in (b"k", b"K") and len(st) >= 4:
        c, m, y, k2 = (max(0.0, min(1.0, float(v))) for v in st[:4])
        rgb = _rgb8(
            ((1 - c) * (1 - k2), (1 - m) * (1 - k2), (1 - y) * (1 - k2))
        )
    elif kw in (b"sc", b"scn", b"SC", b"SCN"):
        space = gs.stroke_cs if stroke else gs.fill_cs
        if csi.name:  # pattern operand
            doc = csi.doc
            pdict = doc.get(rdb, "Pattern") if isinstance(rdb, dict) else None
            pref = pdict.get(csi.name) if isinstance(pdict, dict) else None
            pat = doc.resolve(pref)
            if isinstance(pat, dict):
                # PaintType-2 (uncolored) cells take the scn component
                # operands as their base color
                scn_rgb = None
                if len(st) == 1:
                    scn_rgb = _rgb8((st[0], st[0], st[0]))
                elif len(st) == 3:
                    scn_rgb = _rgb8(st[:3])
                elif len(st) >= 4:
                    c, m, y, k2 = (
                        max(0.0, min(1.0, float(v))) for v in st[:4]
                    )
                    scn_rgb = _rgb8(
                        ((1 - c) * (1 - k2), (1 - m) * (1 - k2), (1 - y) * (1 - k2))
                    )
                # the pattern matrix is relative to the default space of
                # the stream referencing the pattern (PDF 32000 8.7.3.1)
                entry = (pref, pat, csi.top_ctm, scn_rgb)
                if stroke:
                    gs.stroke_pattern = entry
                    gs.stroke_rgb = (128, 128, 128)
                else:
                    gs.fill_pattern = entry
                    gs.fill_rgb = (128, 128, 128)
                return  # pattern armed; don't fall through to rgb set
            doc.note_failure("raster_pattern_missing")
            rgb = (128, 128, 128)
        elif space is not None:
            # resource-defined space (Indexed / Separation / DeviceN /
            # ICCBased / Lab / Cal*): exact conversion via colorspace.py
            rgb = _convert_space_color(csi, space, st)
        elif len(st) == 1:
            rgb = _rgb8((st[0], st[0], st[0]))
        elif len(st) == 3:
            rgb = _rgb8(st[:3])
        elif len(st) >= 4:
            c, m, y, k2 = (max(0.0, min(1.0, float(v))) for v in st[:4])
            rgb = _rgb8(
                ((1 - c) * (1 - k2), (1 - m) * (1 - k2), (1 - y) * (1 - k2))
            )
    elif kw in (b"cs", b"CS"):
        # colorspace select resets the color to black (PDF 32000 8.6.8)
        # and arms the resolved space for subsequent sc/scn
        space = _resolve_colorspace(csi, rdb, csi.name)
        if stroke:
            gs.stroke_cs = space
        else:
            gs.fill_cs = space
        rgb = (0, 0, 0)
    if rgb is not None:
        if stroke:
            gs.stroke_rgb = rgb
            gs.stroke_pattern = None
        else:
            gs.fill_rgb = rgb
            gs.fill_pattern = None
        if kw not in (b"cs", b"CS", b"sc", b"scn", b"SC", b"SCN"):
            # device color operators (g/rg/k) implicitly select the
            # device space, dropping any armed resource space
            if stroke:
                gs.stroke_cs = None
            else:
                gs.fill_cs = None


def _resolve_colorspace(csi: CSI, rdb, name: str):
    """cs/CS operand -> gstate colorspace entry: None for device names
    and /Pattern (the operand-count / pattern paths handle those),
    ("indexed", rgb8 palette) for Indexed, ("conv", ncomp, f) for
    spaces colorspace.to_rgb_converter understands (ICCBased, Lab,
    Cal*, Separation, DeviceN) — mirroring pdf_set_colorspace through
    res_colorspace.pas."""
    if not name or name in (
        "DeviceGray", "DeviceRGB", "DeviceCMYK", "G", "RGB", "CMYK",
        "Pattern", "CalGray", "CalRGB",
    ):
        return None
    doc = csi.doc
    from .colorspace import to_rgb_converter

    csd = doc.get(rdb, "ColorSpace") if isinstance(rdb, dict) else None
    cs = doc.resolve(csd.get(name)) if isinstance(csd, dict) else None
    if cs is None:
        doc.note_failure("raster_colorspace_missing")
        return None
    head = to_name(doc.resolve(cs[0])) if isinstance(cs, list) and cs else None
    if head in ("Indexed", "I") and isinstance(cs, list) and len(cs) >= 4:
        base = to_rgb_converter(doc, cs[1])
        hival = to_int(doc.resolve(cs[2])) or 0
        lut = doc.resolve(cs[3])
        if is_indirect(cs[3]) and doc.is_stream(cs[3]):
            try:
                lut = doc.load_stream(cs[3].num)
            except Exception:
                lut = None
        if base is None or not isinstance(lut, bytes):
            doc.note_failure("raster_colorspace")
            return None
        nb, fb = base
        need = (hival + 1) * nb
        if len(lut) < need:
            lut = lut + b"\x00" * (need - len(lut))
        vals = (
            np.frombuffer(lut[:need], dtype=np.uint8)
            .reshape(hival + 1, nb)
            .astype(np.float64)
            / 255.0
        )
        pal = np.clip(
            np.round(fb(vals) * 255.0), 0, 255
        ).astype(np.int64)
        return ("indexed", pal)
    conv = to_rgb_converter(doc, cs)
    if conv is None:
        doc.note_failure("raster_colorspace")
        return None
    if head == "Lab":
        # sc operands are REAL Lab values (L 0..100, a/b per /Range),
        # not the [0,1] byte fractions lab_to_rgb takes — carry the
        # /Range so _convert_space_color can clamp and rescale
        params = doc.resolve(cs[1]) if len(cs) > 1 else None
        rng = (
            doc.resolve(params.get("Range"))
            if isinstance(params, dict)
            else None
        )
        bounds = (-100.0, 100.0, -100.0, 100.0)
        if isinstance(rng, list) and len(rng) >= 4:
            try:
                bounds = tuple(
                    float(to_real(doc.resolve(v))) for v in rng[:4]
                )
            except (TypeError, ValueError):
                pass
        return ("lab", conv[0], conv[1], bounds)
    return ("conv", conv[0], conv[1])


def _convert_space_color(csi: CSI, space, st):
    """sc/scn operands through an armed resource colorspace -> rgb8."""
    try:
        if space[0] == "indexed":
            pal = space[1]
            idx = int(st[0]) if st else 0
            idx = max(0, min(len(pal) - 1, idx))
            return tuple(int(v) for v in pal[idx])
        if space[0] == "lab":
            _tag, _n, f, (amin, amax, bmin, bmax) = space
            lst = float(st[0]) if len(st) > 0 else 0.0
            ast = float(st[1]) if len(st) > 1 else 0.0
            bst = float(st[2]) if len(st) > 2 else 0.0
            lst = min(max(lst, 0.0), 100.0)
            ast = min(max(ast, amin), amax)
            bst = min(max(bst, bmin), bmax)
            # lab_to_rgb takes byte fractions: L=v*100, a/b=v*255-128
            v = np.array(
                [[lst / 100.0, (ast + 128.0) / 255.0, (bst + 128.0) / 255.0]]
            )
            out = f(v)
            return tuple(
                int(x) for x in np.clip(np.round(out[0, :3] * 255.0), 0, 255)
            )
        _tag, ncomp, f = space
        vals = [float(st[i]) if i < len(st) else 0.0 for i in range(ncomp)]
        out = f(np.clip(np.array([vals]), 0.0, 1.0))
        return tuple(
            int(v) for v in np.clip(np.round(out[0, :3] * 255.0), 0, 255)
        )
    except Exception:
        csi.doc.note_failure("raster_colorspace")
        return (128, 128, 128)


def _run_path_op(csi: CSI, rdb, kw: bytes):
    """Path construction + painting + clipping for the raster sink."""
    draw = csi.draw
    gs = csi.gs
    if kw == b"m":
        csi.cur = (_st(csi, 0), _st(csi, 1))
        csi.start = csi.cur
        csi.path.append([csi.cur])
        csi.path_closed.append(False)
    elif kw == b"l":
        prev = csi.cur
        csi.cur = (_st(csi, 0), _st(csi, 1))
        if csi.path:
            # 8.5.2.1: appending a segment after h/re begins a NEW
            # subpath at the current point — extending the closed one
            # would stroke a phantom closing edge
            if csi.path_closed and csi.path_closed[-1]:
                csi.path.append([prev, csi.cur] if prev else [csi.cur])
                csi.path_closed.append(False)
            else:
                csi.path[-1].append(csi.cur)
    elif kw in (b"c", b"v", b"y"):
        from .raster import flatten_cubic

        p0 = csi.cur or (0.0, 0.0)
        if kw == b"c":
            p1 = (_st(csi, 0), _st(csi, 1))
            p2 = (_st(csi, 2), _st(csi, 3))
            p3 = (_st(csi, 4), _st(csi, 5))
        elif kw == b"v":
            p1 = p0
            p2 = (_st(csi, 0), _st(csi, 1))
            p3 = (_st(csi, 2), _st(csi, 3))
        else:  # y
            p1 = (_st(csi, 0), _st(csi, 1))
            p3 = (_st(csi, 2), _st(csi, 3))
            p2 = p3
        if csi.path:
            pts = flatten_cubic(p0, p1, p2, p3)
            if csi.path_closed and csi.path_closed[-1]:
                # new subpath after h/re (8.5.2.1), as in `l` above
                csi.path.append([p0] + pts)
                csi.path_closed.append(False)
            else:
                csi.path[-1].extend(pts)
        csi.cur = p3
    elif kw == b"h":
        # a second h on an already-closed subpath is a no-op (8.5.2.1)
        if csi.path and csi.start is not None and not csi.path_closed[-1]:
            csi.path[-1].append(csi.start)
            csi.path_closed[-1] = True
            csi.cur = csi.start
        elif csi.path_closed and csi.path_closed[-1]:
            csi.cur = csi.start if csi.start is not None else csi.cur
    elif kw == b"re":
        x, y, w, h = (_st(csi, i) for i in range(4))
        csi.path.append([(x, y), (x + w, y), (x + w, y + h), (x, y + h)])
        csi.path_closed.append(True)
        csi.cur = (x, y)
        csi.start = (x, y)
    elif kw in (b"W", b"W*"):
        csi.pending_clip = "eo" if kw == b"W*" else "nz"
    elif kw == b"sh":
        shd = None
        shres = csi.doc.resolve(rdb.get("Shading")) if isinstance(rdb, dict) else None
        if isinstance(shres, dict) and csi.name:
            shd = shres.get(csi.name)  # keep the ref: mesh types load the stream
        draw.fill_shade(csi.doc, shd, gs.ctm, gs=gs)
    else:
        # painting operators
        fill = kw in (b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*")
        stroke = kw in (b"S", b"s", b"B", b"B*", b"b", b"b*")
        close_first = kw in (b"s", b"b", b"b*")
        evenodd = kw in (b"f*", b"B*")
        if (
            close_first
            and csi.path
            and csi.start is not None
            and not csi.path_closed[-1]
        ):
            csi.path[-1].append(csi.start)
            csi.path_closed[-1] = True
        if fill and csi.path:
            draw.fill_path(csi.path, evenodd, gs.ctm, gs.fill_rgb, gs)
        if stroke and csi.path:
            # closed subpaths (re, h, s/b/b*) stroke their closing edge:
            # append the start point where it isn't already the tail
            spolys = [
                sp + [sp[0]]
                if closed and len(sp) >= 2 and tuple(sp[-1]) != tuple(sp[0])
                else sp
                for sp, closed in zip(csi.path, csi.path_closed)
            ]
            draw.stroke_path(
                spolys, gs.ctm, gs.stroke_rgb, gs.line_width, gs
            )
        if csi.pending_clip is not None and csi.path:
            draw.clip_path(
                csi.path, csi.pending_clip == "eo", gs.ctm
            )
            csi.pending_clip = None
        csi.path = []
        csi.path_closed = []
        csi.cur = None
        csi.start = None


def run_extgstate(csi: CSI, rdb):
    """/Font matters for text (pdf_run_extgstate); the raster sink also
    consumes the stroke state (/LW /LC /LJ /ML /D), constant alphas
    (/CA /ca), /SMask soft masks (built by the device from the mask
    group's luminosity/alpha) and records non-Normal /BM blend modes as
    a failure code."""
    doc = csi.doc
    csi.flush_text()
    egs_dict = doc.get(rdb, "ExtGState") if isinstance(rdb, dict) else None
    egs = doc.get(egs_dict, csi.name) if isinstance(egs_dict, dict) else None
    if not isinstance(egs, dict):
        doc.note_failure("extgstate_missing")
        return
    if csi.draw is not None:
        gs = csi.gs
        v = doc.resolve(egs.get("LW"))
        if v is not None:
            gs.line_width = to_real(v)
        v = doc.resolve(egs.get("LC"))
        if v is not None:
            gs.line_cap = int(to_real(v))
        v = doc.resolve(egs.get("LJ"))
        if v is not None:
            gs.line_join = int(to_real(v))
        v = doc.resolve(egs.get("ML"))
        if v is not None:
            gs.miter_limit = to_real(v)
        v = doc.resolve(egs.get("D"))
        if isinstance(v, list) and len(v) == 2:
            arr = doc.resolve(v[0])
            if isinstance(arr, list):
                try:
                    gs.dash = (
                        tuple(float(doc.resolve(x)) for x in arr),
                        to_real(doc.resolve(v[1])),
                    )
                except (TypeError, ValueError):
                    pass
        v = doc.resolve(egs.get("CA"))
        if v is not None:
            gs.stroke_alpha = max(0.0, min(1.0, to_real(v)))
        v = doc.resolve(egs.get("ca"))
        if v is not None:
            gs.fill_alpha = max(0.0, min(1.0, to_real(v)))
        v = doc.resolve(egs.get("BM"))
        bm = to_name(v) if v is not None else None
        if isinstance(v, list) and v:
            bm = to_name(doc.resolve(v[0]))
        if bm is not None:
            from .raster import BLEND_MODES

            if bm in ("Normal", "Compatible"):
                gs.blend = None
            elif bm in BLEND_MODES:
                gs.blend = BLEND_MODES[bm]
            else:
                # unknown name: PDF 32000 11.3.5 says treat as Normal
                gs.blend = None
                doc.note_failure(f"raster_blend_mode:{bm}")
        if "SMask" in egs:
            sm = doc.resolve(egs.get("SMask"))
            if isinstance(sm, dict) and hasattr(csi.draw, "build_smask"):
                try:
                    gs.smask = csi.draw.build_smask(doc, sm, gs.ctm, rdb)
                except Exception:
                    doc.note_failure("raster_smask_error")
            else:
                gs.smask = None  # /SMask /None clears
    val = doc.get(egs, "Font")
    if isinstance(val, list) and len(val) == 2:
        gs = csi.gs
        gs.font = None
        try:
            gs.font = load_font(doc, rdb, val[0], csi.font_cache)
        except FontError as e:
            doc.note_failure(e.code)
        except Exception:
            doc.note_failure("font_load_error")
        gs.size = to_real(doc.resolve(val[1]))


def is_hidden_ocg(doc, obj, target: str = "View") -> bool:
    """pdf_is_hidden_ocg (src/vcl/pdf_interprets.pas:20-39): an object is
    hidden when ``/OC -> /OCGs -> [0] -> /Usage -> /<target> ->
    /<target>State`` is the name ``OFF``.  The reference consults ONLY the
    per-OCG usage dictionary -- never the document-level ``/OCProperties``
    default configuration -- and only the FIRST OCG of an OCMD's ``/OCGs``
    array; every missing link in the chain means "not hidden".  The page
    run uses target = 'View' (pdf_run_page, :2715)."""
    oc = doc.get(obj, "OC") if isinstance(obj, dict) else None
    ocgs = doc.get(oc, "OCGs") if isinstance(oc, dict) else None
    if isinstance(ocgs, list):
        ocgs = doc.resolve(ocgs[0]) if ocgs else None
    usage = doc.get(ocgs, "Usage") if isinstance(ocgs, dict) else None
    tgt = doc.get(usage, target) if isinstance(usage, dict) else None
    state = doc.get(tgt, target + "State") if isinstance(tgt, dict) else None
    return to_name(state) == "OFF"


def run_do(csi: CSI, rdb):
    """pdf_run_Do: Form XObjects recurse; images are skipped entirely
    (text device hint FZ_IGNORE_IMAGE)."""
    doc = csi.doc
    xdict = doc.get(rdb, "XObject") if isinstance(rdb, dict) else None
    obj_ref = xdict.get(csi.name) if isinstance(xdict, dict) else None
    if obj_ref is None:
        doc.note_failure("xobject_missing")
        return
    obj = doc.resolve(obj_ref)
    if not isinstance(obj, dict):
        doc.note_failure("xobject_missing")
        return
    if is_hidden_ocg(doc, obj):
        return  # OFF optional-content layer: skip (pdf_interprets.pas:1494)
    subtype = to_name(doc.get(obj, "Subtype"))
    if subtype == "Form" and doc.get(obj, "Subtype2") is not None:
        subtype = to_name(doc.get(obj, "Subtype2"))
    if subtype == "Form":
        if csi.xobject_depth >= MAX_XOBJECT_DEPTH:
            doc.note_failure("xobject_depth")
            return
        csi.xobject_depth += 1
        try:
            run_form_xobject(csi, rdb, obj_ref, obj, IDENTITY)
        finally:
            csi.xobject_depth -= 1
    elif subtype == "Image":
        if csi.draw is not None and is_indirect(obj_ref):
            csi.draw.fill_image(
                doc, obj_ref.num, obj, csi.gs.ctm, csi.gs.fill_rgb,
                gs=csi.gs,
            )
        # else FZ_IGNORE_IMAGE: never decoded on the text path
    elif subtype == "PS":
        pass
    else:
        doc.note_failure("unknown_xobject_subtype")


def run_form_xobject(csi: CSI, rdb, ref, xobj: dict, transform):
    """pdf_run_xobject (:1037-1129). Transparency groups (/Group
    /S /Transparency) under a non-unit alpha or an active /SMask render
    into an offscreen coverage-tracking canvas and composite once with
    that alpha x mask, honoring /I isolated vs non-isolated backdrop
    semantics (the reference's begin_group/end_group vtable,
    src/vcl/digtypes.pas:772-800). Groups at alpha 1 with no mask paint
    directly — identical pixels, no offscreen cost."""
    doc = csi.doc
    # group gating decided on the CALLER's gstate (the Do-time alpha)
    group_token = None
    group_alpha = 1.0
    group_smask = None
    group_blend = None
    if csi.draw is not None and hasattr(csi.draw, "begin_group"):
        grp = doc.resolve(xobj.get("Group"))
        if isinstance(grp, dict) and to_name(doc.get(grp, "S")) == "Transparency":
            knockout = bool(to_int(doc.resolve(grp.get("K"))))
            if knockout or (
                csi.gs.fill_alpha < 1.0
                or csi.gs.smask is not None
                or csi.gs.blend is not None
            ):
                # knockout groups ALWAYS go through the offscreen, even
                # at Do-time alpha 1: each element must composite with
                # the group's initial backdrop (11.6.6), which the
                # direct-paint fast path cannot express
                group_alpha = csi.gs.fill_alpha
                group_smask = csi.gs.smask
                group_blend = csi.gs.blend
                group_token = csi.draw.begin_group(
                    isolated=bool(to_int(doc.resolve(grp.get("I")))),
                    knockout=knockout,
                )
    csi.gsave()
    gs = csi.gs
    if group_token is not None:
        # inside the group, content paints at full alpha with Normal
        # blending; the group's alpha/mask/blend apply once at
        # composite time (PDF 32000 11.6.6)
        gs.fill_alpha = 1.0
        gs.stroke_alpha = 1.0
        gs.smask = None
        gs.blend = None
    matrix = doc.get(xobj, "Matrix")
    if isinstance(matrix, list) and len(matrix) >= 6:
        m = tuple(to_real(doc.resolve(v)) for v in matrix[:6])
    else:
        m = IDENTITY
    transform = _concat(m, transform)
    gs.ctm = _concat(transform, gs.ctm)

    old_top = len(csi.gstack)
    old_top_ctm = csi.top_ctm
    csi.top_ctm = gs.ctm

    if csi.draw is not None and hasattr(csi.draw, "clip_path"):
        # form content is CLIPPED to /BBox (PDF 32000 8.10.1), mapped
        # through Matrix∘CTM — pushed after the gsave above so the
        # finally-grestore's restore_clip unwinds it (a degenerate BBox
        # correctly renders nothing)
        bbox = doc.resolve(xobj.get("BBox"))
        if isinstance(bbox, list) and len(bbox) >= 4:
            vals = [doc.resolve(v) for v in bbox[:4]]
            # to_real coerces junk to 0.0, which would silently clip
            # the whole form to a 0x0 rect; a non-numeric /BBox skips
            # the clip (tolerant render) and records the envelope code
            if all(isinstance(v, (int, float)) for v in vals):
                x0, y0, x1, y1 = (to_real(v) for v in vals)
                csi.draw.clip_path(
                    [[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]],
                    False,
                    gs.ctm,
                )
            else:
                doc.note_failure("form_bbox_malformed")

    resources = doc.get(xobj, "Resources")
    if not isinstance(resources, dict):
        resources = rdb

    try:
        if is_indirect(ref) and doc.is_stream(ref):
            contents = doc.load_stream(ref.num)
            run_buffer(csi, resources, contents)
    except Exception:
        doc.note_failure("xobject_stream_error")
    finally:
        csi.top_ctm = old_top_ctm
        while len(csi.gstack) > old_top:
            csi.grestore()
        csi.grestore()
        if group_token is not None:
            csi.draw.end_group(
                group_token, group_alpha, group_smask, group_blend
            )


def _jpeg_payload_end(data: bytes, pos: int) -> int:
    """Index one past the EOI of the JPEG starting at `pos`, or -1.
    Marker segments (APPn/COM/DQT/...) carry explicit lengths and may
    legally CONTAIN 0xFFD9 (EXIF thumbnails have their own EOI) — only
    post-SOS entropy data is FF-stuffed, so a bare find(FFD9) can stop
    inside a header segment and truncate the codestream."""
    n = len(data)
    i = pos
    if i + 2 > n or data[i] != 0xFF or data[i + 1] != 0xD8:
        return -1
    i += 2
    while i + 1 < n:
        if data[i] != 0xFF:
            return -1
        m = data[i + 1]
        i += 2
        if m == 0xD9:
            return i
        if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7 or m == 0xFF:
            # TEM / SOI / RSTn / fill byte: no length field
            if m == 0xFF:
                i -= 1
            continue
        if i + 2 > n:
            return -1
        seglen = (data[i] << 8) | data[i + 1]
        if seglen < 2:
            return -1
        i += seglen
        if m == 0xDA:  # SOS: entropy-coded data until the next marker
            while i + 1 < n:
                if data[i] != 0xFF:
                    i += 1
                elif data[i + 1] == 0x00 or data[i + 1] == 0xFF:
                    i += 2 if data[i + 1] == 0x00 else 1
                elif 0xD0 <= data[i + 1] <= 0xD7:
                    i += 2
                else:
                    break  # a real marker; outer loop dispatches it
    return -1


def _j2k_payload_end(data: bytes, pos: int) -> int:
    """Index one past the EOC of the raw JPEG-2000 codestream at
    `pos`, or -1. Marker segments have explicit lengths; tile-parts
    are skipped whole via SOT's Psot field, so an FFD9 inside packet
    data never terminates the scan early."""
    n = len(data)
    i = pos
    if not (
        i + 4 <= n
        and data[i : i + 2] == b"\xff\x4f"
        and data[i + 2] == 0xFF
    ):
        return -1
    i += 2  # past SOC
    while i + 1 < n:
        if data[i] != 0xFF:
            return -1
        m = data[i + 1]
        if m == 0xD9:  # EOC
            return i + 2
        if m == 0x90:  # SOT: Psot = whole tile-part length
            if i + 10 > n:
                return -1
            psot = int.from_bytes(data[i + 6 : i + 10], "big")
            if psot == 0:
                # last tile-part extends to EOC (rare); packet data is
                # not FF-escaped, so this residual scan can still stop
                # early — tolerated, matching the previous behavior
                e = data.find(b"\xff\xd9", i)
                return e + 2 if e >= 0 else -1
            i += psot
            continue
        if i + 4 > n:
            return -1
        seglen = (data[i + 2] << 8) | data[i + 3]
        if seglen < 2:
            return -1
        i += 2 + seglen
    return -1


def _jp2_payload_end(data: bytes, pos: int) -> int:
    """Index one past the last box of the JP2 container at `pos`, or
    -1. Box lengths are explicit, so ICC profiles or metadata
    containing FFD9 never truncate the payload."""
    n = len(data)
    sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    if not data.startswith(sig, pos):
        return -1
    i = pos
    end = -1
    while i + 8 <= n:
        ln = int.from_bytes(data[i : i + 4], "big")
        btype = data[i + 4 : i + 8]
        if not all(0x20 <= c < 0x7F for c in btype):
            break  # next bytes aren't a box: payload ended at `end`
        if ln == 1:
            if i + 16 > n:
                break
            ln = int.from_bytes(data[i + 8 : i + 16], "big")
            if ln < 16:
                break
        elif ln == 0:
            # box runs "to end of file" — only determinable when it is
            # the codestream box, via the codestream's own EOC
            if btype == b"jp2c":
                return _j2k_payload_end(data, i + 8)
            break
        elif ln < 8:
            break
        if i + ln > n:
            break
        i += ln
        end = i
    return end


def _consume_inline_data(doc, lex: Lexer, d: dict):
    """Advance the lexer past the inline image payload. The reference
    decodes the image to consume exactly its bytes, then scans to EI; the
    text device ignores the pixels, so we only consume."""
    data = lex.data
    pos = lex.tell()
    filters = d.get("Filter") or d.get("F")
    if isinstance(filters, Name):
        filters = [filters]
    first = to_name(filters[0]) if filters else None
    if first in ("AHx", "ASCIIHexDecode"):
        end = data.find(b">", pos)
        lex.seek(end + 1 if end >= 0 else len(data))
        return
    if first in ("A85", "ASCII85Decode"):
        end = data.find(b"~>", pos)
        lex.seek(end + 2 if end >= 0 else len(data))
        return
    if first in ("Fl", "FlateDecode"):
        dobj = zlib.decompressobj()
        try:
            dobj.decompress(data[pos:])
            consumed = len(data) - pos - len(dobj.unused_data)
        except zlib.error:
            consumed = 0
        lex.seek(pos + consumed)
        return
    if first in ("RL", "RunLengthDecode"):
        i = pos
        while i < len(data):
            run = data[i]
            i += 1
            if run == 128:
                break
            i += (run + 1) if run < 128 else 1
        lex.seek(i)
        return
    if first in ("DCT", "DCTDecode", "JPX", "JPXDecode"):
        # walk the marker/box structure to the true EOI/EOC — a bare
        # find(FFD9) can stop inside an EXIF thumbnail or ICC box and
        # desync the rest of the content stream
        if first in ("DCT", "DCTDecode"):
            end = _jpeg_payload_end(data, pos)
        else:
            end = _jp2_payload_end(data, pos)
            if end < 0:
                end = _j2k_payload_end(data, pos)
        if end < 0:
            e = data.find(b"\xff\xd9", pos)  # tolerant fallback
            end = e + 2 if e >= 0 else len(data)
        lex.seek(end)
        return
    if first is None:
        w = to_int(doc.resolve(d.get("W") or d.get("Width")))
        h = to_int(doc.resolve(d.get("H") or d.get("Height")))
        bpc = to_int(doc.resolve(d.get("BPC") or d.get("BitsPerComponent"))) or 8
        cs = to_name(doc.resolve(d.get("CS") or d.get("ColorSpace")))
        ncomp = {"RGB": 3, "DeviceRGB": 3, "CMYK": 4, "DeviceCMYK": 4}.get(cs, 1)
        if to_int(doc.resolve(d.get("IM") or d.get("ImageMask"))):
            ncomp, bpc = 1, 1
        rowbytes = (w * ncomp * bpc + 7) // 8
        lex.seek(pos + rowbytes * h)
        return
    # unknown codec: leave position; the EI scan below resynchronizes


def skip_inline_image(doc, lex: Lexer) -> tuple[dict, int, int, bool]:
    """pdf_run_BI's walk from just after BI: parse the dict, skip the EOL
    after ID, consume the payload and scan to EI. Returns (dict, payload
    start, payload end, whether an EI followed)."""
    from .parser import parse_dict

    d = parse_dict(lex)
    if lex.read_byte() == 13 and lex.peek_byte() == 10:
        lex.read_byte()
    start = lex.tell()
    _consume_inline_data(doc, lex, d)
    stop = lex.tell()
    e = lex.data.find(b"E", stop, lex.end)
    lex.pos = lex.end if e < 0 else e + 1
    return d, start, stop, lex.read_byte() == 0x49  # 'I'


def run_inline_image(csi: CSI, rdb, lex: Lexer):
    """pdf_run_BI (:1311-1361). With a raster device attached the
    captured payload is also decoded and painted."""
    doc = csi.doc
    d, start, stop, ei = skip_inline_image(doc, lex)
    if csi.draw is not None:
        try:
            csi.draw.fill_inline_image(
                doc, d, lex.data[start:stop], csi.gs.ctm, csi.gs.fill_rgb,
                gs=csi.gs,
            )
        except Exception:
            doc.note_failure("raster_inline_image")
    if not ei:
        doc.note_failure("inline_image_ei")
