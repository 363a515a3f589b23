"""Text device: glyph runs -> spans -> serialized page text.

Faithful reimplementation of src/vcl/dev_textss.pas (fz_text_extract_span,
fz_add_text_char) and fz_span_to_wchar
(src/vcl/base_object_functions.pas:2687-2747):

- pen starts at (-1,-1); first glyph never triggers space/newline
- newline when pen jump dist > size*0.9  (LINE_DIST)
- space when |dot| > 0.95 and dist > size*0.2 (SPACE_DIST) and the span's
  last char isn't already a space
- span breaks on (font, size, wmode) change unless the char is a space
- ligature expansion at add-char time: FB00->'ff', FB01->'ff' (the
  reference's copy-paste quirk — NOT 'fi'), FB02->'fl', FB03->'ffi',
  FB04->'ffl', FB05->'st', FB06->'st'; ucs==-1 fillers are dropped
- one per-glyph loop; a shown string whose inner spaces and lines follow
  provably from its text state is laid out at its first and last glyph,
  its text appended a line at a time
- serialization: chars < 32 fold to '?'; CRLF when span.eol or at the very
  last span; the final span always gets eol=1 (fz_text_free_user)
"""

from __future__ import annotations

import codecs
import functools
import math
import re
from itertools import accumulate, repeat

import numpy as np

LINE_DIST = 0.9
SPACE_DIST = 0.2
# rounding slack of a segment's gaps per unit of magnitude: a computed
# gap is a handful of roundings, each at most 2**-53 of the largest
# magnitude in its arithmetic, away from its exact value
_SLACK = 2.0**-40
# segment events per (text state, transform), a bounded number at a
# time (``_events``)
_MEMO_MAX = 64
_memo: dict = {}

# '?'-folding table: control chars (<32) per the reference, plus lone
# surrogates (invalid in UTF-8)
_FOLD = {i: "?" for i in range(32)}
_FOLD.update({i: "?" for i in range(0xD800, 0xE000)})
_NEEDS_FOLD = re.compile("[\x00-\x1f\ud800-\udfff]")

_LIGATURES = {
    0xFB00: "ff",
    0xFB01: "ff",  # reference quirk: fi expands to 'ff' (dev_textss.pas:104-108)
    0xFB02: "fl",
    0xFB03: "ffi",
    0xFB04: "ffl",
    0xFB05: "st",
    0xFB06: "st",
}


class Span:
    __slots__ = ("font", "size", "wmode", "chars", "eol")

    def __init__(self, font=None, size=0.0, wmode=0):
        self.font = font
        self.size = size
        self.wmode = wmode
        self.chars: list[str] = []  # non-empty pieces of the span's text
        self.eol = 0


class TextRun:
    """fz_text_s: glyphs batched while font/trm/wmode/render unchanged.

    Items are stored as ``parts`` in emission order, of two kinds:
    - scalar 4-tuples (gid, ucs, x, y) from the per-code paths;
    - ('S', codes, te, base_e, y, state) segments: one horizontal string
      of at least 16 codes on a 1-byte fast font (te is the string's
      start x, state the font's ``AdvanceState`` for the string's text
      state). A glyph's x is te plus the sequential sum of the advances
      before it (plus base_e when nonzero, ``_segment_glyphs``); the
      text device reads it at the segment's boundaries when it can
      (``_chunks``), ``glyphs()`` for the raster sink at every glyph."""

    __slots__ = ("font", "trm", "wmode", "parts", "n", "nseg")

    def __init__(self, font, trm, wmode):
        self.font = font
        self.trm = trm  # (a,b,c,d,e,f); e,f zeroed by the interpreter
        self.wmode = wmode
        self.parts: list = []
        self.n = 0
        self.nseg = 0

    def add(self, gid: int, ucs: int, x: float, y: float):
        self.parts.append((gid, ucs, x, y))
        self.n += 1

    def add_segment(self, codes: bytes, te, base_e, y, state):
        self.parts.append(("S", codes, te, base_e, y, state))
        self.n += len(codes)
        self.nseg += 1

    def glyphs(self):
        """(gid, ucs, x, y) of every glyph in emission order."""
        out: list = []
        for part in self.parts:
            if part[0] == "S":
                out.extend(_segment_glyphs(part, self.font.fast_arrays()[1]))
            else:
                out.append(part)
        return out


def _segment_glyphs(seg, cu):
    """A segment's (gid, ucs, x, y) tuples; ``cu`` is the font's cid and
    ucs lists by code. Its x positions are the interpreter's fold: te,
    then te plus each advance in turn (plus base_e when nonzero)."""
    _s, codes, te, base_e, y, state = seg
    xs = accumulate(map(state.table.__getitem__, codes), initial=te)
    if base_e:
        xs = map(base_e.__add__, xs)
    return zip(map(cu[0].__getitem__, codes), map(cu[1].__getitem__, codes), xs, repeat(y))


def _chunks(run, ctm, dx, dy, size):
    """A run's parts as (glyphs, tail) pairs in emission order. Scalar
    tuples come in batches, tail None. A segment whose codes all have a
    provable event (``_events``) by a margin above its rounding slack,
    which grows with every magnitude in the position arithmetic, comes
    as its first glyph with tail (its text after that glyph, split into
    lines, and its last glyph's gid, x, y). A non-finite term makes the
    slack NaN or infinite and fails it. Any other segment comes as all
    its glyphs."""
    fast = run.font.fast_arrays()
    cids, ucs = fast[1]
    chars = fast[3]
    ca, cb, _cc, cd, _ce, cf = ctm
    scale = (sum(map(abs, ctm)) + abs(dx) + abs(dy)) * _SLACK
    state = None
    scalars: list = []
    for part in run.parts:
        if part[0] != "S":
            scalars.append(part)
            continue
        if scalars:
            yield scalars, None
            scalars = []
        _s, codes, te, base_e, y, seg_state = part
        if seg_state is not state:
            state = seg_state
            ok, events, margin, adv_max, pen_max, spmap, split = _events(
                state, fast, dx, dy, ca, cb, size
            )
        slack = (abs(te) + abs(base_e) + abs(y) + len(codes) * adv_max + pen_max + 1.0) * scale
        # an event the loop would skip because an inner pen lands on
        # (-1,-1), its "no pen yet", cannot happen on a constant y
        if (
            slack < margin
            and not codes.translate(None, ok)
            and (not events or (cb == 0.0 and dy == 0.0 and y * cd + cf != -1.0))
        ):
            # the last glyph's x: the string's fold short of its last
            # advance (a loop adds in the same order as reduce, faster)
            inner = codes[:-1]
            last = te
            advance = state.table
            for code in inner:
                last += advance[code]
            x = te
            if base_e:
                x, last = base_e + x, base_e + last
            if not events:
                lines = [codecs.charmap_decode(codes, "strict", chars)[0][1:]]
            else:
                lines = [
                    codecs.charmap_decode(p, "strict", spmap)[0]
                    for p in (split.split(inner) if split else (inner,))
                ]
                lines[0] = lines[0][1:]
                lines[-1] += chars[codes[-1]]
            c0, c1 = codes[0], codes[-1]
            yield ((cids[c0], ucs[c0], x, y),), (lines, cids[c1], last, y)
            continue
        yield _segment_glyphs(part, fast[1]), None
    if scalars:
        yield scalars, None


def _events(state, fast, dx, dy, ca, cb, size):
    """The event (space, line or nothing) the glyph after each code of
    the font meets at ``state``, in exact arithmetic: its pen ends
    ``dx*pen`` past its origin, the next glyph starts ``adv*ca`` past it,
    likewise in y. After a ' ' a space adds nothing. Returns (ok, events,
    margin, max |adv|, max |pen|, spmap, split) over ``ok`` (bytes.translate
    deletechars), the plain codes whose finite gap clears every edge by
    more than a tiny fraction of the line threshold; ``margin`` is the
    least clearance, the dot test's scaled by gap/4 (an error e in the
    gap moves the dot by at most 2e/gap). ``spmap`` decodes a code to its
    char, plus ' ' when the next glyph meets a space; ``split`` (None
    without lines) splits a string where the next glyph meets a line.
    Memoized per state and transform; a state's font outlives one
    document."""
    key = (state, dx, dy, ca, cb, size)
    terms = _memo.get(key)
    if terms is None:
        if len(_memo) >= _MEMO_MAX:
            _memo.clear()
        _w, _cu, pen, chars, plain = fast
        codes = np.frombuffer(plain, dtype=np.uint8)
        adv, pen = state.array[codes], pen[codes]
        ucs = np.frombuffer(chars.encode("utf-32-le", "surrogatepass"), np.uint32)
        space = ucs[codes] == 32
        s, l = size * SPACE_DIST, size * LINE_DIST
        dist = math.sqrt(dx * dx + dy * dy)
        nx, ny = (dx / dist, dy / dist) if dist else (1.0, 0.0)
        with np.errstate(all="ignore"):
            gx, gy = dx * pen - ca * adv, dy * pen - cb * adv
            gap = np.hypot(gx, gy)
            dot = np.abs((gx * nx + gy * ny) / gap)
            line = gap > l
            mid = (gap > s) & ~line & ~space
            margin = np.minimum(
                np.minimum(np.where(space, np.inf, np.abs(gap - s)), np.abs(gap - l)),
                np.where(mid, np.abs(dot - 0.95) * gap / 4, np.inf),
            )
            # the loop squares its gaps: near thresholds outside this
            # range they overflow or underflow, so the loop decides
            ok = (2.0**-400 < size < 2.0**400) & np.isfinite(gap) & (margin > l * 2.0**-24)
            sp = ok & mid & (dot > 0.95)
        okc, spc, nlc = codes[ok], codes[sp], codes[ok & line]
        spmap = chars
        if len(spc):
            spmap = {c: chars[c] for c in okc.tolist()}
            spmap.update({c: chars[c] + " " for c in spc.tolist()})
        split = re.compile(b"(?<=[" + re.escape(nlc.tobytes()) + b"])") if len(nlc) else None
        adv_max, pen_max = (float(np.abs(a[ok]).max(initial=0.0)) for a in (adv, pen))
        events = bool(len(spc) or len(nlc))
        least = float(margin[ok].min(initial=np.inf))
        terms = _memo[key] = (okc.tobytes(), events, least, adv_max, pen_max, spmap, split)
    return terms


def _concat(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _joinable(span, font, size, wmode):
    """``span.chars`` when a glyph of this font, size and wmode joins
    ``span`` (``_add_char``'s test), else None."""
    if span.font is font and span.size == size and span.wmode == wmode:
        return span.chars
    return None


class TextDevice:
    def __init__(self):
        root = Span()
        self.spans: list[Span] = [root]
        self.pen_x = -1.0
        self.pen_y = -1.0
        # the first code point chr() rejects: the page's text cannot be
        # built, and to_text raises as building it would
        self.bad_cpt = None

    # --- device hooks (fill/stroke/clip/ignore all extract) -----------------
    def text(self, run: TextRun, ctm):
        self._extract_span(run, ctm)

    def _add_char(self, font, size, wmode, c: int):
        """fz_add_text_char."""
        span = self.spans[-1]
        if span.font is None:
            span.font = font
            span.size = size
        if (
            (span.font is not font or span.size != size or span.wmode != wmode)
            and c != 32
        ):
            span = Span(font, size, wmode)
            self.spans.append(span)
        if c == -1:
            return
        lig = _LIGATURES.get(c)
        if lig is not None:
            span.chars.append(lig)
        elif 0 <= c < 0x110000:
            span.chars.append(chr(c))
        elif self.bad_cpt is None:
            self.bad_cpt = c

    def _add_newline(self, font, size, wmode):
        self.spans[-1].eol = 1
        self.spans.append(Span(font, size, wmode))

    def _extract_span(self, run: TextRun, ctm):
        """fz_text_extract_span: each glyph against the pen the one before
        left. A segment whose events are provable (``_chunks``) takes the
        per-glyph step at its first glyph only; the rest of its text is
        appended a line at a time and the pen set from its last glyph."""
        if not run.n:
            return
        font = run.font
        tm = run.trm
        dirv = (1.0, 0.0) if run.wmode == 0 else (0.0, 1.0)
        tm0 = (tm[0], tm[1], tm[2], tm[3], 0.0, 0.0)
        trm = _concat(tm0, ctm)
        dx = dirv[0] * trm[0] + dirv[1] * trm[2]
        dy = dirv[0] * trm[1] + dirv[1] * trm[3]
        dist = math.sqrt(dx * dx + dy * dy)
        ndir = (dx / dist, dy / dist) if dist else (1.0, 0.0)
        size = math.sqrt(abs(trm[0] * trm[3] - trm[1] * trm[2]))

        # inlined position transform: e = x*ca + y*cc + ce (hot loop)
        ca, cb, cc, cd, ce, cf = ctm
        line_thresh = size * LINE_DIST
        space_thresh = size * SPACE_DIST
        ndir_x, ndir_y = ndir
        pen_x, pen_y = self.pen_x, self.pen_y
        wmode = run.wmode
        pen_advance = functools.cache(font.pen_advance)
        sqrt = math.sqrt
        if run.nseg:
            chunks = _chunks(run, ctm, dx, dy, size)
        else:
            chunks = ((run.parts, None),)
        spans = self.spans
        # the last span's pieces while glyphs join it without a break
        cur = _joinable(spans[-1], font, size, wmode)
        for glyphs, tail in chunks:
            for gid, ucs, x, y in glyphs:
                # gid < 0: filler glyph of a one-to-many mapping, added
                # at the same position
                if gid >= 0:
                    ex = x * ca + y * cc + ce
                    ey = x * cb + y * cd + cf
                    if pen_x == -1.0 and pen_y == -1.0:
                        delta_x = delta_y = 0.0
                    else:
                        delta_x = pen_x - ex
                        delta_y = pen_y - ey
                    pdist = sqrt(delta_x * delta_x + delta_y * delta_y)
                    if pdist > 0:
                        if pdist > line_thresh:
                            self._add_newline(font, size, wmode)
                            cur = spans[-1].chars
                        elif pdist > space_thresh:
                            dot = (delta_x * ndir_x + delta_y * ndir_y) / pdist
                            if dot > 0.95 or dot < -0.95:
                                last = spans[-1].chars
                                if last and last[-1][-1] != " ":
                                    last.append(" ")
                    adv = pen_advance(gid)
                    pen_x = ex + dx * adv
                    pen_y = ey + dy * adv
                if cur is not None and 0 <= ucs < 0xFB00:
                    cur.append(chr(ucs))  # _add_char's common case
                else:
                    self._add_char(font, size, wmode, ucs)
                    cur = _joinable(spans[-1], font, size, wmode)
            if tail is not None:
                lines, gid, x, y = tail
                self._bulk_chars(font, size, wmode, lines[0])
                for text in lines[1:]:
                    self._add_newline(font, size, wmode)
                    self._bulk_chars(font, size, wmode, text)
                cur = _joinable(spans[-1], font, size, wmode)
                adv = pen_advance(gid)
                pen_x = x * ca + y * cc + ce + dx * adv
                pen_y = x * cb + y * cd + cf + dy * adv
        self.pen_x, self.pen_y = pen_x, pen_y

    def _bulk_chars(self, font, size, wmode, text):
        if not text:
            return
        span = self.spans[-1]
        if span.font is None:
            span.font = font
            span.size = size
        if span.font is not font or span.size != size or span.wmode != wmode:
            # per-char rule: a space never triggers the span break, so
            # leading spaces stay on the old span and the break happens at
            # the first non-space char
            rest = text.lstrip(" ")
            if len(rest) < len(text):
                span.chars.append(text[: len(text) - len(rest)])
            if not rest:
                return
            text = rest
            span = Span(font, size, wmode)
            self.spans.append(span)
        # plain text only (no fillers, ligatures or code points chr
        # rejects); control chars fold at serialization
        span.chars.append(text)

    # --- serialization -------------------------------------------------------
    def close(self):
        """fz_text_free_user: final span gets eol."""
        self.spans[-1].eol = 1

    def to_text(self) -> str:
        """fz_span_to_wchar with CRLF separator. Codepoints < 32 fold to
        '?' (reference rule); lone UTF-16 surrogates also fold to '?' so
        the result is always valid UTF-8 for Arrow/parquet (the reference
        emits them raw into a widestring — not representable as text)."""
        if self.bad_cpt is not None:
            chr(self.bad_cpt)  # raises ValueError (OverflowError past C int)
        out: list[str] = []
        n = len(self.spans)
        for i, span in enumerate(self.spans):
            if span.chars:
                text = "".join(span.chars)
                if _NEEDS_FOLD.search(text):
                    text = text.translate(_FOLD)
                out.append(text)
            if span.eol == 0 and i + 1 < n:
                continue
            out.append("\r\n")
        return "".join(out)
