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
- serialization: chars < 32 fold to '?'; CRLF when span.eol or at the very
  last span; the final span always gets eol=1 (fz_text_free_user)
"""

from __future__ import annotations

import math
import re

import numpy as np

LINE_DIST = 0.9
SPACE_DIST = 0.2

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

    def __init__(self):
        self.font = None
        self.size = 0.0
        self.wmode = 0
        self.chars: list[int] = []
        self.eol = 0


def advances(w, codes, ks, cs, ws, ta):
    """Horizontal advance of each glyph on the 1-byte fast path:
    ``(w*ks [+ cs] [+ ws at code 32]) [* ta]`` elementwise, where ks is
    size*0.001*Tz, cs is Tc*Tz and ws is Tw*Tz. A bracketed step is
    skipped where it would be an identity (cs == 0, ta == 1, ws NaN, which
    stands for Tw == 0), since adding 0.0 still turns -0.0 into +0.0. The
    parameters are scalars (one text state over all 256 codes, the font's
    advance table) or per-glyph arrays (a whole text run); each glyph
    gets the same bits either way."""
    tx = w * ks
    tx = np.where(cs != 0.0, tx + cs, tx)
    tx = np.where(ws == ws, tx + (codes == 32) * ws, tx)
    return np.where(ta != 1.0, tx * ta, tx)


class TextRun:
    """fz_text_s: glyphs batched while font/trm/wmode/render unchanged.

    Items are stored as ``parts`` in emission order:
    - scalar 4-tuples (gid, ucs, x, y) from the per-char paths;
    - ('B', gids, ucs, xs, ys) blocks of NumPy columns from the rotated
      show-string fast path;
    - ('S', codes, te, base_e, y, ks, cs, ws, ta) segments: one horizontal
      string on a 1-byte fast font, its glyph x positions left to
      ``columns()`` (te is the string's start x, the rest are the
      ``advances`` parameters)."""

    __slots__ = ("font", "trm", "wmode", "parts", "n", "has_block")

    def __init__(self, font, trm, wmode):
        self.font = font
        self.trm = trm  # (a,b,c,d,e,f); e,f zeroed by the interpreter
        self.wmode = wmode
        self.parts: list = []
        self.n = 0
        self.has_block = False

    def add(self, gid: int, ucs: int, x: float, y: float):
        self.parts.append((gid, ucs, x, y))
        self.n += 1

    def add_block(self, gids, ucs, xs, ys):
        self.parts.append(("B", gids, ucs, xs, ys))
        self.n += len(gids)
        self.has_block = True

    def add_segment(self, codes: bytes, te, base_e, y, ks, cs, ws, ta):
        self.parts.append(("S", codes, te, base_e, y, ks, cs, ws, ta))
        self.n += len(codes)
        self.has_block = True

    def columns(self):
        """(gid int64, ucs int64, x f64, y f64) arrays in emission order."""
        parts = self.parts
        segs = [p for p in parts if p[0] == "S"]
        seg_cols = _segment_columns(self.font, segs) if segs else None
        if segs and len(segs) == len(parts):
            return seg_cols
        chunks: list = []
        pend: list = []
        off = 0
        for p in parts:
            tag = p[0]
            if tag == "S" or tag == "B":
                if pend:
                    chunks.append(_scalar_columns(pend))
                    pend = []
                if tag == "B":
                    chunks.append(p[1:])
                else:
                    n = len(p[1])
                    chunks.append([c[off : off + n] for c in seg_cols])
                    off += n
            else:
                pend.append(p)
        if pend:
            chunks.append(_scalar_columns(pend))
        if not chunks:
            return _scalar_columns([])
        if len(chunks) == 1:
            return tuple(chunks[0])
        return tuple(np.concatenate(c) for c in zip(*chunks))


def _scalar_columns(items):
    a = np.array(items, dtype=np.float64).reshape(len(items), 4)
    return a[:, 0].astype(np.int64), a[:, 1].astype(np.int64), a[:, 2], a[:, 3]


def _segment_columns(font, segs):
    """Columns of a run's segments, all at once. A segment's x positions
    are its te followed by the running sum of its advances, summed in
    order along one row of a padded matrix; a row-wise cumsum adds in the
    same order as the per-string cumsum, so every position is bit-equal
    to it (and the string's end x is the interpreter's fold)."""
    lens = [len(s[1]) for s in segs]
    codes = np.frombuffer(b"".join([s[1] for s in segs]), dtype=np.uint8)
    params = np.array([s[2:] for s in segs])  # te, base_e, y, ks, cs, ws, ta
    per = np.repeat(params, lens, axis=0)
    _ok, _cid, _ucs, w_a, cu_a = font.fast_arrays()
    tx = advances(w_a[codes], codes, per[:, 3], per[:, 4], per[:, 5], per[:, 6])
    width = max(lens)
    if len(segs) * width <= 4 * len(codes):
        mask = np.arange(width) < np.array(lens)[:, None]
        c = np.zeros((len(segs), width + 1))
        c[:, 0] = params[:, 0]
        c[:, 1:][mask] = tx
        np.cumsum(c, axis=1, out=c)
        xs = c[:, :-1][mask]
    else:
        # one long string among short ones: padding would cost more
        # than it saves, sum each segment on its own
        rows = []
        off = 0
        for s, n in zip(segs, lens):
            c = np.empty(n + 1)
            c[0] = s[2]
            c[1:] = tx[off : off + n]
            rows.append(np.cumsum(c)[:-1])
            off += n
        xs = np.concatenate(rows)
    base_e = per[:, 1]
    xs = np.where(base_e != 0.0, base_e + xs, xs)
    cu = cu_a[:, codes]
    return cu[0], cu[1], xs, per[:, 2]


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


class TextDevice:
    def __init__(self):
        root = Span()
        self.spans: list[Span] = [root]
        self.pen_x = -1.0
        self.pen_y = -1.0

    # --- device hooks (fill/stroke/clip/ignore all extract) -----------------
    def text(self, run: TextRun, ctm):
        self._extract_span(run, ctm)

    def _add_char(self, font, size, wmode, c: int, ligature_ok=True):
        """fz_add_text_char."""
        span = self.spans[-1]
        if span.font is None:
            span.font = font
            span.size = size
        if (
            (span.font is not font or span.size != size or span.wmode != wmode)
            and c != 32
        ):
            span = Span()
            span.font = font
            span.size = size
            span.wmode = wmode
            self.spans.append(span)
        if c == -1:
            return
        lig = _LIGATURES.get(c)
        if lig is not None:
            span.chars.extend(ord(ch) for ch in lig)
        else:
            span.chars.append(c)

    def _add_newline(self, font, size, wmode):
        self.spans[-1].eol = 1
        span = Span()
        span.font = font
        span.size = size
        span.wmode = wmode
        self.spans.append(span)

    def _extract_span(self, run: TextRun, ctm):
        if not run.n:
            return
        font = run.font
        tm = run.trm
        if run.wmode == 0:
            dirv = (1.0, 0.0)
        else:
            dirv = (0.0, 1.0)
        tm0 = (tm[0], tm[1], tm[2], tm[3], 0.0, 0.0)
        trm = _concat(tm0, ctm)
        dx = dirv[0] * trm[0] + dirv[1] * trm[2]
        dy = dirv[0] * trm[1] + dirv[1] * trm[3]
        dist = math.sqrt(dx * dx + dy * dy)
        ndir = (dx / dist, dy / dist) if dist else (1.0, 0.0)
        size = math.sqrt(abs(trm[0] * trm[3] - trm[1] * trm[2]))

        items = run.parts
        if run.n >= 16 or run.has_block:
            cols = run.columns()
            done = self._extract_span_vectorized(
                run, cols, ctm, ndir, size, dx, dy
            )
            if done:
                return
            g, u, xs, ys = cols
            items = zip(g.tolist(), u.tolist(), xs.tolist(), ys.tolist())
        # inlined position transform: e = x*ca + y*cc + ce (hot loop)
        ca, cb, cc, cd, ce, cf = ctm
        line_thresh = size * LINE_DIST
        space_thresh = size * SPACE_DIST
        ndir_x, ndir_y = ndir
        pen_x, pen_y = self.pen_x, self.pen_y
        wmode = run.wmode
        pen_advance = font.pen_advance
        sqrt = math.sqrt
        for gid, ucs, x, y in items:
            if gid < 0:
                # filler glyph of a one-to-many mapping: same position
                self._add_char(font, size, wmode, ucs)
                continue
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
                elif pdist > space_thresh:
                    dot = (delta_x * ndir_x + delta_y * ndir_y) / pdist
                    if dot > 0.95 or dot < -0.95:
                        span = self.spans[-1]
                        if span.chars and span.chars[-1] != 32:
                            self._add_char(font, size, wmode, 32)
            adv = pen_advance(gid)
            pen_x = ex + dx * adv
            pen_y = ey + dy * adv
            self._add_char(font, size, wmode, ucs)
        self.pen_x, self.pen_y = pen_x, pen_y

    def _extract_span_vectorized(
        self, run, cols, ctm, ndir, size, dx, dy
    ) -> bool:
        """NumPy bulk path for large runs: identical event decisions, with
        chars appended segment-wise between the (rare) space/newline
        events. Returns False (caller falls back to the scalar loop) when
        filler glyphs or ligature codepoints are present."""
        gidi, ucs_arr, px, py = cols
        n = len(gidi)
        if gidi.min() < 0:
            return False
        if ((ucs_arr >= 0xFB00) & (ucs_arr <= 0xFB06)).any():
            return False
        font = run.font
        if gidi.max() < 256:
            advs = font.pen_adv_array()[gidi]
        else:
            adv_lookup = font.pen_advance
            advs = np.fromiter(
                (adv_lookup(int(g)) for g in gidi),
                dtype=np.float64,
                count=n,
            )
        ca, cb, cc, cd, ce, cf = ctm
        ex = px * ca + py * cc + ce
        ey = px * cb + py * cd + cf
        pen_x = ex + dx * advs
        pen_y = ey + dy * advs
        # delta[i] = pen[i-1] - e[i]; delta[0] from the incoming pen
        delta_x = np.empty(n)
        delta_y = np.empty(n)
        if self.pen_x == -1.0 and self.pen_y == -1.0:
            delta_x[0] = delta_y[0] = 0.0
        else:
            delta_x[0] = self.pen_x - ex[0]
            delta_y[0] = self.pen_y - ey[0]
        delta_x[1:] = pen_x[:-1] - ex[1:]
        delta_y[1:] = pen_y[:-1] - ey[1:]
        dist = np.hypot(delta_x, delta_y)
        moving = dist > 0
        newline = moving & (dist > size * LINE_DIST)
        with np.errstate(invalid="ignore", divide="ignore"):
            dot = (delta_x * ndir[0] + delta_y * ndir[1]) / dist
        space = (
            moving
            & ~newline
            & (dist > size * SPACE_DIST)
            & (np.abs(dot) > 0.95)
        )
        events = np.nonzero(newline | space)[0]
        ucs_list = ucs_arr.tolist()
        wmode = run.wmode
        start = 0
        for idx in events.tolist():
            if start < idx:
                self._bulk_chars(font, size, wmode, ucs_list[start:idx])
            if newline[idx]:
                self._add_newline(font, size, wmode)
            else:
                span = self.spans[-1]
                if span.chars and span.chars[-1] != 32:
                    self._add_char(font, size, wmode, 32)
            start = idx
        self._bulk_chars(font, size, wmode, ucs_list[start:])
        self.pen_x = float(pen_x[-1])
        self.pen_y = float(pen_y[-1])
        return True

    def _bulk_chars(self, font, size, wmode, ucs_list):
        if not ucs_list:
            return
        span = self.spans[-1]
        if span.font is None:
            span.font = font
            span.size = size
        if span.font is not font or span.size != size or span.wmode != wmode:
            # per-char rule: a space never triggers the span break, so
            # leading spaces stay on the old span and the break happens at
            # the first non-space char
            i = 0
            n = len(ucs_list)
            while i < n and ucs_list[i] == 32:
                span.chars.append(32)
                i += 1
            if i == n:
                return
            ucs_list = ucs_list[i:]
            span = Span()
            span.font = font
            span.size = size
            span.wmode = wmode
            self.spans.append(span)
        # -1 fillers and ligatures were excluded by the caller; all other
        # codepoints append verbatim (control chars fold at serialization)
        span.chars.extend(ucs_list)

    # --- serialization -------------------------------------------------------
    def close(self):
        """fz_text_free_user: final span gets eol."""
        self.spans[-1].eol = 1

    def to_text(self) -> str:
        """fz_span_to_wchar with CRLF separator. Codepoints < 32 fold to
        '?' (reference rule); lone UTF-16 surrogates also fold to '?' so
        the result is always valid UTF-8 for Arrow/parquet (the reference
        emits them raw into a widestring — not representable as text)."""
        out: list[str] = []
        n = len(self.spans)
        for i, span in enumerate(self.spans):
            if span.chars:
                text = "".join(map(chr, span.chars))
                if _NEEDS_FOLD.search(text):
                    text = text.translate(_FOLD)
                out.append(text)
            if span.eol == 0 and i + 1 < n:
                continue
            out.append("\r\n")
        return "".join(out)
