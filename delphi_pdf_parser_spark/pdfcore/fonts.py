"""Font loading: the code -> CID -> (unicode, width) machinery.

Mirrors src/vcl/pdf_fontss.pas (simple + CID fonts), pdf_type3s.pas,
pdf_unicodess.pas (ToUnicode), pdf_metricss.pas (hmtx/vmtx).

Key design decision vs the reference: no FreeType. The reference consults
the embedded/builtin font program for glyph ids and for the text device's
pen advance (FT_Get_Advance, src/vcl/dev_textss.pas:296). Glyph ids never
reach the extracted text; what matters is (a) the code->unicode chain and
(b) the advance widths. We take both from the PDF-side data: /Widths, /W,
DW, Type3 widths, or the built-in base-14 metrics tables (public Adobe AFM
numbers, identical to the metrics inside the reference's bundled CFF
fonts). The text device's pen advance therefore equals hmtx/1000 — which
is exactly what FT_Get_Advance returns for those fonts at unitsPerEm
scale.

Quirks of the reference reproduced on purpose:
- pdf_get_vmtx never consults the W2 table (inverted nil-check,
  src/vcl/pdf_metricss.pas:135-141): vertical metrics are always the
  default (DW2 or 880/-1000) with x = hmtx.w/2
- Type3 widths load only FirstChar..LastChar-1
  (src/vcl/pdf_type3s.pas:118-124)
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

from .cmap import (
    CMap,
    SystemCMapUnavailable,
    identity_cmap,
    load_system_cmap,
    parse_cmap,
)
from .cos import Name, is_indirect, is_name, to_int, to_name, to_real
from .encodings import WIN_ANSI_ENCODING, load_encoding, lookup_agl
from .base14 import BASE14_WIDTHS, BASE14_ENCODING_OVERRIDES, clean_base14_name
import struct

from .cff import CffError, CffFont
from .sfnt import SfntError, SfntFont
from .type1 import parse_type1_encoding

# advance_state memo: key packing, the codes it spans, states kept per font
_PACK_STATE = struct.Struct("4d").pack
_CODES = np.arange(256)
_ADV_TABLES_MAX = 64


class FontError(Exception):
    def __init__(self, code: str, msg: str = ""):
        super().__init__(msg or code)
        self.code = code


class FontDesc:
    __slots__ = (
        "ident",
        "name",
        "wmode",
        "flags",
        "missing_width",
        "encoding",
        "to_unicode",
        "cid_to_ucs",
        "hmtx",
        "_hmtx_lows",
        "dhmtx",
        "dvmtx",
        "t3widths",
        "t3matrix_a",
        "is_type3",
        "t3_render",
        "_fast_table",
        "_fast_arrays",
        "_adv_tables",
        "_adv_array",
        "_cid_mode",
        "_cid_cache",
        "embedded",
        "_outline_src",
        "_outline_cache",
    )

    _next_ident = 0

    def __init__(self):
        # identity key for the text-run flush comparison. Process-unique
        # counter, NOT the caller's (num, gen) load key: with the
        # cross-document font memo, a FontDesc cached from one document
        # can coexist with a DIFFERENT font whose load key happens to be
        # the same (num, gen) in another document — equal idents there
        # would merge two fonts' glyphs into one text run and advance
        # the pen with the wrong metrics.
        FontDesc._next_ident += 1
        self.ident = FontDesc._next_ident
        self.name = ""
        self.wmode = 0
        self.flags = 0
        self.missing_width = 0
        self.encoding: CMap | None = None
        self.to_unicode: CMap | None = None
        self.cid_to_ucs: list[int] | None = None
        self.hmtx: list[tuple[int, int, int]] = []  # (lo, hi, w) sorted
        self._hmtx_lows: list[int] = []
        self.dhmtx = 0
        self.dvmtx = (880, -1000)
        self.t3widths: dict[int, float] = {}
        self.t3matrix_a = 0.001
        self.is_type3 = False
        # raster sink: (charprocs dict, resources, FontMatrix, estrings)
        # — doc-bound, safe only because Type3 is excluded from the
        # cross-document memo
        self.t3_render = None
        self._fast_table = None
        self._fast_arrays = None
        self._adv_tables: dict = {}
        self._adv_array = None
        self._cid_mode = None
        self._cid_cache: dict = {}
        # raster sink: ("ttf", SfntFont, etable|None) or
        # ("cff", raw_bytes, etable|None); etable maps code -> gid for
        # simple fonts, None means gid == cid (Identity CID layout)
        self.embedded = None
        self._outline_src = None
        self._outline_cache: dict = {}

    # --- metrics -------------------------------------------------------------
    def add_hmtx(self, lo: int, hi: int, w: int):
        self.hmtx.append((lo, hi, w))

    def end_hmtx(self):
        self.hmtx.sort(key=lambda t: t[0])
        self._hmtx_lows = [t[0] for t in self.hmtx]

    def get_hmtx_w(self, cid: int) -> int:
        i = bisect_right(self._hmtx_lows, cid) - 1
        if i >= 0:
            lo, hi, w = self.hmtx[i]
            if lo <= cid <= hi:
                return w
        return self.dhmtx

    def get_vmtx(self, cid: int) -> tuple[int, int, int]:
        """(x, y, w). Reproduces the reference's always-default behavior."""
        h = self.get_hmtx_w(cid)
        y, w = self.dvmtx
        return (h // 2, y, w)

    # --- text-device pen advance (per-1000 units -> text space) --------------
    def pen_advance(self, gid: int) -> float:
        if self.is_type3:
            return self.t3widths.get(gid, 0.0)
        return self.get_hmtx_w(gid) / 1000.0

    def is_pure_2byte(self) -> bool:
        """True when every codespace (of this cmap) is 2 bytes wide —
        decode degenerates to big-endian uint16 reads (Identity-H and the
        Uni*-UCS2 family qualify)."""
        if self._cid_mode is None:
            enc = self.encoding
            self._cid_mode = bool(
                enc is not None
                and self.wmode == 0
                and enc.codespaces
                and all(n == 2 for n, _lo, _hi in enc.codespaces)
            )
        return self._cid_mode

    def ucs_of(self, cid: int) -> tuple:
        """pdf_show_char's Unicode chain: the full ToUnicode mapping, else
        cid_to_ucs, else '?' (also for a lone U+0000)."""
        ucs = ()
        if self.to_unicode is not None:
            ucs = self.to_unicode.lookup_full(cid)
        if not ucs and self.cid_to_ucs is not None and cid < len(self.cid_to_ucs):
            ucs = (self.cid_to_ucs[cid],)
        if not ucs or (len(ucs) == 1 and ucs[0] == 0):
            return (63,)
        return tuple(ucs)

    def cid_entry(self, code: int):
        """Memoized (cid, ucs_tuple, hmtx_w) per 2-byte code; None when
        the code has no CID (warn path)."""
        ent = self._cid_cache.get(code)
        if ent is not None or code in self._cid_cache:
            return ent
        cid = self.encoding.lookup(code)
        if cid >= 0:
            ent = (cid, self.ucs_of(cid), self.get_hmtx_w(cid))
        self._cid_cache[code] = ent
        return ent

    def pen_adv_array(self):
        """NumPy advance table for gid 0..255 (vectorized text device)."""
        if self._adv_array is None:
            self._adv_array = np.array(
                [self.pen_advance(g) for g in range(256)], dtype=np.float64
            )
        return self._adv_array

    # --- fast path for 1-byte identity-encoded fonts --------------------------
    def outline_1000(self, code_or_cid: int):
        """Flattened glyph contours scaled to a 1000-unit em for the
        raster sink, or None when the font carries no embedded outline
        program (base-14 references — the device then consults
        fallback_outline_1000's synthetic face)."""
        if self.embedded is None:
            return None
        kind, prog, etable = self.embedded
        if kind == "t1":
            # Type1 glyphs address by NAME: etable is the estrings table
            gid = (
                etable[code_or_cid]
                if etable is not None and 0 <= code_or_cid < len(etable)
                else None
            )
            if not gid:
                return None
        elif etable is not None and 0 <= code_or_cid < len(etable):
            gid = etable[code_or_cid]
        else:
            gid = code_or_cid
        hit = self._outline_cache.get(gid)
        if hit is not None:
            return hit
        from .glyphs import CffOutlines, OutlineError, Type1Outlines, ttf_outline

        try:
            if kind == "ttf":
                conts = ttf_outline(prog, gid)
                upem = prog.units_per_em or 1000
                if upem != 1000:
                    s = 1000.0 / upem
                    conts = [[(x * s, y * s) for x, y in c] for c in conts]
            elif kind == "t1":
                if self._outline_src is None:
                    self._outline_src = Type1Outlines(prog)
                conts = self._outline_src.outline(gid)
            else:
                if self._outline_src is None:
                    self._outline_src = CffOutlines(prog)
                conts = self._outline_src.outline(gid)
        except Exception:
            # any malformed outline program: draw nothing for this glyph
            return None
        self._outline_cache[gid] = conts
        return conts

    def fallback_outline_1000(self, code_or_cid: int):
        """Synthetic-sans contours (pdfcore/fallbackfont.py) for fonts
        without an embedded program. The reference substitutes a bundled
        base-14 FreeType face (src/vcl/pdf_fontfiless.pas); we render a
        from-scratch skeleton-stroke face instead so unembedded text
        rasters visibly — the device records `raster_fallback_font` so
        synthetic pages stay distinguishable. Keyed by the glyph's
        Unicode mapping (same chain the text sink uses); returns None
        when the code maps outside the face's coverage (ASCII +
        Latin-1 letters + NFD-composable accents + punctuation)."""
        if self.embedded is not None:
            return None
        from .fallbackfont import fallback_outline

        # fall THROUGH the mapping sources: a fast_table entry without
        # a ucs (unencoded code) must still consult /ToUnicode and
        # cid_to_ucs before giving up on the glyph
        ucs = None
        ft = self.fast_table()
        if ft and 0 <= code_or_cid < 256:
            ent = ft[code_or_cid]
            if ent and ent[1]:
                ucs = ent[1][0]
        if ucs is None and self.to_unicode is not None:
            full = self.to_unicode.lookup_full(code_or_cid)
            if full:
                ucs = full[0]
        if (
            ucs is None
            and self.cid_to_ucs is not None
            and 0 <= code_or_cid < len(self.cid_to_ucs)
        ):
            ucs = int(self.cid_to_ucs[code_or_cid])
        if ucs is None:
            return None
        nm = (self.name or "").lower()
        return fallback_outline(
            int(ucs),
            bold="bold" in nm,
            oblique="italic" in nm or "oblique" in nm,
        )

    def fast_table(self):
        """For simple/Type3 fonts (1-byte identity encoding, wmode 0):
        code -> (cid, ucs_tuple, hmtx_w), None where the code has no CID;
        precomputed once per font."""
        if self._fast_table is not None:
            return self._fast_table
        if self.wmode != 0 or self.encoding is None:
            self._fast_table = False
            return False
        enc = self.encoding
        # 1-byte identity: single codespace of width 1 covering 0..255 and
        # identity ranges (how load_simple_font/load_type3_font build it)
        if not (
            len(enc.codespaces) == 1
            and enc.codespaces[0][0] == 1
            and enc.usecmap is None
        ):
            self._fast_table = False
            return False
        table = []
        for code in range(256):
            cid = enc.lookup(code)
            table.append(
                (cid, self.ucs_of(cid), self.get_hmtx_w(cid)) if cid >= 0 else None
            )
        self._fast_table = table
        return table

    def fast_arrays(self):
        """NumPy companions of fast_table for whole-string vectorization,
        one entry per code: (w f64[256], cu i64[2,256], pen f64[256],
        chars str, plain bytes). ``w`` is the code's width, NaN at codes
        without a single-codepoint mapping, so a NaN advance marks a
        string the per-code loop must take. ``cu`` stacks each code's cid
        and ucs, so one fancy-index gathers both; ``pen`` is the text
        device's pen advance of the code's cid. ``chars`` is the
        ``codecs.charmap_decode`` table of a segment's text, and
        ``plain`` lists the codes whose text it holds: everything with a
        width except ligatures and code points ``chr`` rejects, which
        the text device's per-glyph paths handle. None when the font has
        no 1-byte fast table."""
        fa = self._fast_arrays
        if fa is not None:
            return fa if fa is not False else None
        table = self.fast_table()
        if not table:
            self._fast_arrays = False
            return None
        cu = np.zeros((2, 256), dtype=np.int64)
        w = np.full(256, np.nan, dtype=np.float64)
        pen = np.zeros(256, dtype=np.float64)
        chars = ["\ufffe"] * 256  # undefined: charmap_decode raises
        plain = bytearray()
        for code, ent in enumerate(table):
            if ent is not None and len(ent[1]) == 1:
                cid, (ucs,), w[code] = ent
                cu[0, code] = cid
                cu[1, code] = ucs
                pen[code] = self.pen_advance(cid)
                if 0 <= ucs < 0x110000 and not 0xFB00 <= ucs <= 0xFB06:
                    chars[code] = chr(ucs)
                    plain.append(code)
        self._fast_arrays = (w, cu, pen, "".join(chars), bytes(plain))
        return self._fast_arrays

    def advance_state(self, ks: float, cs: float, ws: float, ta: float):
        """The 1-byte fast path's advances at one text state: an
        AdvanceState whose ``array`` is ``advances`` over codes 0..255
        (NaN at codes without a single-codepoint mapping). Memoized per
        font on the parameters' exact bits (so +0.0 and -0.0 stay
        apart), a bounded number of states at a time; segments of one
        text run that share the state share the object."""
        key = _PACK_STATE(ks, cs, ws, ta)
        state = self._adv_tables.get(key)
        if state is None:
            if len(self._adv_tables) >= _ADV_TABLES_MAX:
                self._adv_tables.clear()
            state = AdvanceState(advances(self.fast_arrays()[0], ks, cs, ws, ta))
            self._adv_tables[key] = state
        return state


def advances(w, ks: float, cs: float, ws: float, ta: float):
    """Horizontal advance of each code 0..255 of the 1-byte fast path
    at one text state: ``(w*ks [+ cs] [+ ws at code 32]) [* ta]``, where
    ks is size*0.001*Tz, cs is Tc*Tz and ws is Tw*Tz. A bracketed step is
    skipped where it would be an identity (cs == 0, ta == 1, ws NaN,
    which stands for Tw == 0), since adding 0.0 still turns -0.0 into
    +0.0."""
    tx = w * ks
    if cs != 0.0:
        tx = tx + cs
    if ws == ws:
        tx = tx + (_CODES == 32) * ws
    if ta != 1.0:
        tx = tx * ta
    return tx


class AdvanceState:
    """One text state's advance of every code: ``array`` (f64[256]),
    ``table`` (the same as a list, for per-string folds) and ``finite``
    (the codes whose advance is finite, as ``bytes.translate``
    deletechars: a string those delete to nothing has a finite end x
    from any finite start)."""

    __slots__ = ("array", "table", "finite")

    def __init__(self, array):
        self.array = array
        self.table = array.tolist()
        self.finite = bytes(np.flatnonzero(np.isfinite(array)).astype(np.uint8))


# Per-process memo of parsed ToUnicode CMap streams, keyed by content
# digest — the executor-level analog of the reference's resource store
# (pdf_store, src/vcl/fz_pdf_store.pas): identical font CMap programs
# repeat across documents in any real corpus (site-wide embedded
# subsets, the standard CJK encodings), so each executor parses a given
# stream once. Entries are READ-ONLY after parse — only the
# _load_to_unicode path uses this, and it never mutates the result
# (the per-font encoding path at load_cid_font does set_usecmap, so it
# deliberately does NOT use this cache).
_TU_CMAP_CACHE: dict = {}
_TU_CMAP_CACHE_CAP = 256


def _parse_cmap_cached(data: bytes) -> CMap:
    import hashlib

    key = hashlib.blake2b(data, digest_size=16).digest()
    hit = _TU_CMAP_CACHE.get(key)
    if hit is None:
        if len(_TU_CMAP_CACHE) >= _TU_CMAP_CACHE_CAP:
            _TU_CMAP_CACHE.clear()
        hit = _TU_CMAP_CACHE[key] = parse_cmap(data)
    return hit


def _load_to_unicode(
    doc, font: FontDesc, strings: list | None, collection: str | None, cmapstm
):
    """pdf_load_to_unicode (src/vcl/pdf_unicodess.pas:10-98)."""
    if is_indirect(cmapstm) and doc.is_stream(cmapstm):
        data = doc.load_stream(cmapstm.num)
        cmap = _parse_cmap_cached(data)
        tu = CMap()
        limit = 255 if strings is not None else 65535
        # Vectorized form of the reference's per-code scan (the scalar
        # loop — encoding.lookup(i) + cmap.lookup_full(i) for every i —
        # was 64Ki bisects per CID font and dominated extraction time).
        # Exactly the scalar semantics: cid = encoding.lookup(i) must be
        # a SINGLE value (lookup() returns -1 on MULTI), ToUnicode
        # values of length 1 become per-code SINGLE ranges, MULTI
        # entries go through map_one_to_many, all in ascending-i order
        # so the stable sort keeps the same tie order as the loop.
        codes = np.arange(limit + 1, dtype=np.int64)
        if font.encoding is not None:
            ev, ek = font.encoding.lookup_arrays(codes)
            cid_arr = np.where(ek == 1, ev, -1)
        else:
            cid_arr = np.full(limit + 1, -1, dtype=np.int64)
        tv, tk = cmap.lookup_arrays(codes)
        mapped = cid_arr >= 0
        single = mapped & (tk == 1)
        multi = mapped & (tk == 2)
        if not multi.any():
            from .cmap import RANGE as _R
            from .cmap import SINGLE as _S

            c = cid_arr[single]
            v = tv[single]
            # sort by low (stable = same tie order as appending in i
            # order then tu.sort()), then keep the LAST entry of each
            # duplicate low — exactly what the scalar bisect-last-low
            # lookup resolves to
            order = np.argsort(c, kind="stable")
            c, v = c[order], v[order]
            if len(c):
                last = np.concatenate([c[1:] != c[:-1], [True]])
                c, v = c[last], v[last]
            # coalesce contiguous (low+1, val+1) runs into RANGE rows —
            # the reference's own pdf_sort_cmap coalescing; lookups
            # agree because lows stay strictly increasing and the
            # in-range arithmetic reproduces each per-code value
            if len(c):
                brk = np.where((np.diff(c) != 1) | (np.diff(v) != 1))[0] + 1
                starts = np.concatenate([[0], brk])
                ends = np.concatenate([brk - 1, [len(c) - 1]])
                flags = np.where(starts == ends, _S, _R)
                arr = np.stack(
                    [c[starts], c[ends], flags, v[starts]], axis=1
                )
                tu.ranges = arr.tolist()
                tu._lows = arr[:, 0].tolist()
            tu._sorted = True
        else:
            # rare path: MULTI entries must interleave in i order; the
            # lookups are still precomputed, only dispatch is per-code
            for i in np.where(single | multi)[0]:
                if single[i]:
                    tu.map_range_to_range(
                        int(cid_arr[i]), int(cid_arr[i]), int(tv[i])
                    )
                else:
                    off = int(tv[i])
                    n = cmap.table[off]
                    vals = cmap.table[off + 1 : off + 1 + n]
                    if len(vals) == 1:
                        tu.map_range_to_range(
                            int(cid_arr[i]), int(cid_arr[i]), vals[0]
                        )
                    elif len(vals) > 1:
                        tu.map_one_to_many(int(cid_arr[i]), vals)
        if not tu._sorted:
            tu.sort()
        font.to_unicode = tu
    elif collection:
        if collection in (
            "Adobe-CNS1",
            "Adobe-GB1",
            "Adobe-Japan1",
            "Adobe-Korea1",
        ):
            try:
                font.to_unicode = load_system_cmap(collection + "-UCS2")
            except SystemCMapUnavailable:
                doc.note_failure(f"system_cmap:{collection}-UCS2")

    if strings is not None:
        font.cid_to_ucs = [
            lookup_agl(strings[i]) if strings[i] else ord("?") for i in range(256)
        ]
        # unknown names resolve to 0 via AGL; reference stores that 0 and
        # show_char folds it to '?'


def _apply_differences(estrings: list, encoding_dict: dict, doc):
    diff = doc.resolve(encoding_dict.get("Differences"))
    if isinstance(diff, list):
        k = 0
        for item in diff:
            item = doc.resolve(item) if is_indirect(item) else item
            if isinstance(item, (int, float)) and not isinstance(item, bool):
                k = int(item)
            elif is_name(item):
                if 0 <= k <= 255:
                    estrings[k] = str(item)
                k += 1
            k = min(max(k, 0), 255)


def load_simple_font(doc, dict_: dict) -> FontDesc:
    """Type1 / MMType1 / TrueType (pdf_load_simple_font,
    src/vcl/pdf_fontss.pas:501-862), FreeType-free reformulation."""
    font = FontDesc()
    basefont = to_name(doc.get(dict_, "BaseFont"))
    fontname = clean_base14_name(basefont)
    font.name = fontname

    descriptor = doc.get(dict_, "FontDescriptor")
    builtin = None
    if descriptor is None or fontname in BASE14_WIDTHS:
        builtin = fontname if fontname in BASE14_WIDTHS else None
    sf: SfntFont | None = None
    cf: CffFont | None = None
    t1_base = None  # builtin encoding of an embedded Type1 program
    if isinstance(descriptor, dict):
        font.flags = to_int(doc.get(descriptor, "Flags"))
        font.missing_width = to_int(doc.get(descriptor, "MissingWidth"))
        ff2 = descriptor.get("FontFile2")
        if is_indirect(ff2) and doc.is_stream(ff2):
            try:
                sf = SfntFont(doc.load_stream(ff2.num))
                # the port activates the charmap by the PROGRAM kind
                # (ft_kind), which for a FontFile2 is always TrueType
                sf.select_charmap("TRUETYPE")
            except (SfntError, IndexError):
                doc.note_failure("fontfile2_parse")
                sf = None
        if sf is None:
            ff = descriptor.get("FontFile")
            if is_indirect(ff) and doc.is_stream(ff):
                # the reference reads this back out of FreeType via the
                # platform-7 charmap + glyph names; the encoding itself is
                # cleartext in the Type1 program, no FreeType needed
                try:
                    t1_data = doc.load_stream(ff.num)
                    t1_base = parse_type1_encoding(t1_data)
                except Exception:
                    doc.note_failure("fontfile_parse")
        if sf is None and t1_base is None:
            ff3 = descriptor.get("FontFile3")
            if is_indirect(ff3) and doc.is_stream(ff3):
                data3 = doc.load_stream(ff3.num)
                if data3[:4] in (b"\x00\x01\x00\x00", b"true", b"OTTO"):
                    # FontFile3 /Subtype /OpenType: a full sfnt wrapper
                    try:
                        sf = SfntFont(data3)
                        sf.select_charmap("TRUETYPE")
                    except (SfntError, IndexError):
                        doc.note_failure("fontfile3_parse")
                else:
                    try:
                        cf = CffFont(data3)
                    except (CffError, struct.error, IndexError):
                        doc.note_failure("fontfile3_parse")
    if sf is not None:
        # embedded program wins over the base-14 tables (the reference
        # only loads a builtin face when there is no usable FontFile)
        builtin = None
    symbolic = bool(font.flags & 4)

    # estrings: glyph-name table per code
    estrings: list = [None] * 256
    if t1_base is not None:
        # builtin encoding of the embedded Type1 program (overridden below
        # by /Encoding where given — the same net result as the reference's
        # fill-gaps-from-the-face reversal loop)
        if t1_base == "standard":
            load_encoding(estrings, "StandardEncoding")
        else:
            for i, nm in enumerate(t1_base):
                if nm:
                    estrings[i] = nm
    elif builtin is not None and cf is None:
        # builtin encoding of the (builtin) font program: StandardEncoding
        # for the base-14 text faces, Symbol/ZapfDingbats get overrides
        # (an embedded CFF's names come from its charset instead — builtin
        # is kept only as the width-table fallback)
        base_enc = BASE14_ENCODING_OVERRIDES.get(builtin, "StandardEncoding")
        load_encoding(estrings, base_enc)

    encoding = doc.get(dict_, "Encoding")
    if encoding is not None:
        if is_name(encoding):
            load_encoding(estrings, str(encoding))
        elif isinstance(encoding, dict):
            base = doc.resolve(encoding.get("BaseEncoding"))
            if is_name(base):
                load_encoding(estrings, str(base))
            elif sf is not None and symbolic:
                # embedded+symbolic /Encoding dict without /BaseEncoding
                # defaults to StandardEncoding (pdf_fontss.pas:662-663)
                load_encoding(estrings, "StandardEncoding")
            _apply_differences(estrings, encoding, doc)

    etable: list[int] | None = None
    if sf is not None:
        # builtin encode: etable[i] = ft_char_index(face, i)
        # (pdf_fontss.pas:687-689 via :153-167)
        etable = [sf.char_index(i) for i in range(256)]
        if symbolic and not sf.charmap_is_ms_symbol:
            # the one live sub-branch of the symbolic TrueType encode loop
            # (pdf_fontss.pas:757-770; the Unicode/MacRoman sub-branches
            # are dead code — their inner symbolic=0 tests contradict the
            # outer symbolic<>0 guard)
            for i in range(256):
                if estrings[i]:
                    g = sf.name_index(estrings[i])
                    etable[i] = g if g else sf.char_index(i)
        # glyph-name reversal (pdf_fontss.pas:772-791): post-table names
        # when the program has them, else the WinAnsi name of the code
        for i in range(256):
            if etable[i] and estrings[i] is None:
                if sf.has_glyph_names:
                    estrings[i] = sf.glyph_name(etable[i])
                else:
                    estrings[i] = WIN_ANSI_ENCODING[i]
    elif cf is not None:
        # CFF/Type1C (ft_kind=TYPE1, pdf_fontss.pas:129-133): the builtin
        # encoding is the platform-7 charmap the port selects for Type1
        # faces; glyph names come from the charset (FT_HAS_GLYPH_NAMES is
        # true for non-CID CFF, so the reversal loop always uses names)
        if cf.encoding_is_standard:
            std: list = [None] * 256
            load_encoding(std, "StandardEncoding")
            etable = [cf.char_index(i, std[i]) for i in range(256)]
        else:
            etable = [cf.char_index(i) for i in range(256)]
        for i in range(256):
            if etable[i] and estrings[i] is None:
                estrings[i] = cf.glyph_name(etable[i])

    if sf is not None and etable is not None:
        font.embedded = ("ttf", sf, etable)
    elif cf is not None and etable is not None:
        font.embedded = ("cff", data3, etable)
    elif t1_base is not None:
        # Type1: outlines address by glyph NAME through the final
        # estrings table (builtin encoding + /Encoding overrides)
        font.embedded = ("t1", t1_data, list(estrings))

    font.encoding = identity_cmap(0, 1)
    _load_to_unicode(doc, font, estrings, None, dict_.get("ToUnicode"))

    # widths
    font.dhmtx = round(font.missing_width)
    widths = doc.get(dict_, "Widths")
    if isinstance(widths, list):
        first = to_int(doc.get(dict_, "FirstChar"))
        last = to_int(doc.get(dict_, "LastChar"))
        if first < 0 or last > 255 or first > last:
            first = last = 0
        for i in range(0, last - first + 1):
            wid = to_int(doc.resolve(widths[i])) if i < len(widths) else 0
            font.add_hmtx(i + first, i + first, wid)
    elif sf is not None and etable is not None:
        # ft_width fallback: advance of the encoded glyph at 1000/em
        # (pdf_fontss.pas:838-848)
        for code in range(256):
            font.add_hmtx(code, code, sf.advance1000(etable[code]))
    elif builtin is not None:
        table = BASE14_WIDTHS[builtin]
        for code in range(256):
            gname = estrings[code]
            w = table.get(gname, 0) if gname else 0
            font.add_hmtx(code, code, w)
    else:
        doc.note_failure("font_no_widths")
    font.end_hmtx()
    return font


def load_cid_font(doc, dict_: dict, encoding, to_unicode) -> FontDesc:
    """(load_cid_font, src/vcl/pdf_fontss.pas:868-1121)."""
    font = FontDesc()
    cidinfo = doc.get(dict_, "CIDSystemInfo")
    if not isinstance(cidinfo, dict):
        raise FontError("cid_font_missing_info")
    registry = doc.get(cidinfo, "Registry")
    ordering = doc.get(cidinfo, "Ordering")
    reg = registry.decode("latin-1") if isinstance(registry, bytes) else ""
    orr = ordering.decode("latin-1") if isinstance(ordering, bytes) else ""
    collection = f"{reg}-{orr}"
    font.name = to_name(doc.get(dict_, "BaseFont"))

    if is_name(encoding):
        ename = str(encoding)
        if ename == "Identity-H":
            font.encoding = identity_cmap(0, 2)
        elif ename == "Identity-V":
            font.encoding = identity_cmap(1, 2)
        else:
            try:
                font.encoding = load_system_cmap(ename)
            except SystemCMapUnavailable:
                raise FontError(f"system_cmap:{ename}")
    elif is_indirect(encoding) and doc.is_stream(encoding):
        stmdict = doc.load_object(encoding.num)
        data = doc.load_stream(encoding.num)
        font.encoding = parse_cmap(data)
        wmode = doc.get(stmdict, "WMode") if isinstance(stmdict, dict) else None
        if isinstance(wmode, int):
            font.encoding.wmode = wmode
        use = doc.get(stmdict, "UseCMap") if isinstance(stmdict, dict) else None
        if is_name(use):
            try:
                font.encoding.set_usecmap(load_system_cmap(str(use)))
            except SystemCMapUnavailable:
                raise FontError(f"system_cmap:{use}")
    else:
        raise FontError("font_missing_encoding")
    font.wmode = font.encoding.wmode

    # embedded program for the raster sink: CID fonts address glyphs by
    # CID directly (identity CIDToGIDMap — the stream form is not
    # consulted, recorded as a failure code when present)
    descriptor = doc.get(dict_, "FontDescriptor")
    if isinstance(descriptor, dict):
        ff2 = descriptor.get("FontFile2")
        if is_indirect(ff2) and doc.is_stream(ff2):
            try:
                font.embedded = ("ttf", SfntFont(doc.load_stream(ff2.num)), None)
            except (SfntError, IndexError):
                doc.note_failure("fontfile2_parse")
        ff3 = descriptor.get("FontFile3")
        if font.embedded is None and is_indirect(ff3) and doc.is_stream(ff3):
            d3 = doc.load_stream(ff3.num)
            if d3[:4] not in (b"\x00\x01\x00\x00", b"true", b"OTTO"):
                font.embedded = ("cff", d3, None)
        if font.embedded is not None and is_indirect(dict_.get("CIDToGIDMap")):
            doc.note_failure("raster_cid_to_gid_stream")
            font.embedded = None

    _load_to_unicode(doc, font, None, collection, to_unicode)

    dw = 1000
    obj = doc.get(dict_, "DW")
    if obj is not None:
        dw = to_int(obj)
    font.dhmtx = dw

    widths = doc.get(dict_, "W")
    if isinstance(widths, list):
        i = 0
        n = len(widths)
        while i < n:
            c0 = to_int(doc.resolve(widths[i]))
            obj = doc.resolve(widths[i + 1]) if i + 1 < n else None
            if isinstance(obj, list):
                for k, wv in enumerate(obj):
                    font.add_hmtx(c0 + k, c0 + k, to_int(doc.resolve(wv)))
                i += 2
            else:
                c1 = to_int(obj)
                w = to_int(doc.resolve(widths[i + 2])) if i + 2 < n else 0
                font.add_hmtx(c0, c1, w)
                i += 3
    font.end_hmtx()

    if font.wmode == 1:
        dw2y, dw2w = 880, -1000
        obj = doc.get(dict_, "DW2")
        if isinstance(obj, list) and len(obj) >= 2:
            dw2y = to_int(doc.resolve(obj[0]))
            dw2w = to_int(doc.resolve(obj[1]))
        font.dvmtx = (dw2y, dw2w)
        # W2 intentionally not loaded: the reference's pdf_get_vmtx never
        # reads it (src/vcl/pdf_metricss.pas:135-141)
    return font


def load_type0_font(doc, dict_: dict) -> FontDesc:
    dfonts = doc.get(dict_, "DescendantFonts")
    if not isinstance(dfonts, list) or not dfonts:
        raise FontError("cid_font_missing_descendants")
    dfont = doc.resolve(dfonts[0])
    if not isinstance(dfont, dict):
        raise FontError("cid_font_missing_descendants")
    encoding = dict_.get("Encoding")
    if is_indirect(encoding) and not doc.is_stream(encoding):
        encoding = doc.resolve(encoding)
    to_unicode = dict_.get("ToUnicode")
    subtype = to_name(doc.get(dfont, "Subtype"))
    if subtype in ("CIDFontType0", "CIDFontType2"):
        return load_cid_font(doc, dfont, encoding, to_unicode)
    raise FontError("unknown_cid_font_type")


def load_type3_font(doc, rdb, dict_: dict) -> FontDesc:
    """(pdf_load_type3_font, src/vcl/pdf_type3s.pas:19-182). Only widths +
    ToUnicode matter for text extraction; charprocs are not rasterized."""
    font = FontDesc()
    font.is_type3 = True
    obj = doc.get(dict_, "Name")
    font.name = str(obj) if is_name(obj) else "Unnamed-T3"

    matrix = doc.get(dict_, "FontMatrix")
    a = 0.001
    fm = (0.001, 0.0, 0.0, 0.001, 0.0, 0.0)
    if isinstance(matrix, list) and len(matrix) >= 6:
        a = to_real(doc.resolve(matrix[0]))
        fm = tuple(to_real(doc.resolve(v)) for v in matrix[:6])
    font.t3matrix_a = a

    estrings: list = [None] * 256
    encoding = doc.get(dict_, "Encoding")
    if encoding is None:
        raise FontError("type3_missing_encoding")
    if is_name(encoding):
        load_encoding(estrings, str(encoding))
    elif isinstance(encoding, dict):
        base = doc.resolve(encoding.get("BaseEncoding"))
        if is_name(base):
            load_encoding(estrings, str(base))
        _apply_differences(estrings, encoding, doc)

    font.encoding = identity_cmap(0, 1)
    _load_to_unicode(doc, font, estrings, None, dict_.get("ToUnicode"))

    charprocs = doc.get(dict_, "CharProcs")
    t3res = doc.get(dict_, "Resources")
    font.t3_render = (
        charprocs if isinstance(charprocs, dict) else {},
        t3res if isinstance(t3res, dict) else rdb,
        fm,
        list(estrings),
    )

    font.dhmtx = 0
    first = to_int(doc.get(dict_, "FirstChar"))
    last = to_int(doc.get(dict_, "LastChar"))
    widths = doc.get(dict_, "Widths")
    if not isinstance(widths, list):
        raise FontError("type3_missing_widths")
    # NOTE: reference loads FirstChar..LastChar-1 — off-by-one kept
    for i in range(first, last):
        idx = i - first
        w = to_real(doc.resolve(widths[idx])) if idx < len(widths) else 0.0
        scaled = font.t3matrix_a * w * 1000.0
        font.t3widths[i] = scaled * 0.001
        font.add_hmtx(i, i, int(scaled))
    font.end_hmtx()
    return font


def _pure_font_key(obj, doc=None, depth: int = 0, seen: frozenset = frozenset()):
    """Hashable canonical form of a font dict.

    Direct scalar/name/string/array/dict values canonicalize
    structurally. With `doc` given, INDIRECT references are resolved
    transitively: a referenced stream becomes a digest of its DECODED
    bytes (decode already applies filters + decryption, so identical
    font programs in different files — even differently compressed or
    encrypted — key identically), a referenced dict/array recurses.
    Identical keys therefore imply identical load semantics in ANY
    document, which is what lets embedded fonts (FontFile / ToUnicode /
    Descriptor chains — the norm in real corpora, where the same
    site-wide subset repeats across millions of pages) share one parsed
    FontDesc per executor instead of one per document. Returns None
    (no memo) on cycles, depth > 8, or load failures."""
    if obj is None or isinstance(obj, (bool, int, float, bytes)):
        return obj
    if isinstance(obj, Name):
        return ("/", str(obj))
    if isinstance(obj, list):
        out = []
        for v in obj:
            k = _pure_font_key(v, doc, depth, seen)
            if k is None and v is not None:
                return None
            out.append(k)
        return tuple(out)
    if isinstance(obj, dict):
        out = []
        for kk in sorted(obj):
            k = _pure_font_key(obj[kk], doc, depth, seen)
            if k is None and obj[kk] is not None:
                return None
            out.append((kk, k))
        return tuple(out)
    if doc is not None and is_indirect(obj) and depth < 8:
        ident = (obj.num, obj.gen)
        if ident in seen:
            return None  # reference cycle: load per document
        try:
            if doc.is_stream(obj):
                import hashlib

                data = doc.load_stream(obj.num)
                return ("stm", hashlib.blake2b(data, digest_size=16).digest())
            target = doc.resolve(obj)
        except Exception:
            return None
        return _pure_font_key(target, doc, depth + 1, seen | {ident})
    return None  # unresolvable ref or anything exotic


# process-level memo: identical self-contained font dicts (the standard-14
# one-liners dominate real corpora) load once per executor, not once per
# document. The cached FontDesc is read-only at show time; lazy memos
# (fast_table/cid caches) are shared wins. Failure codes emitted during
# the original load are replayed per document for metrics fidelity.
_FONT_MEMO: dict = {}
_FONT_MEMO_CAP = 512


def load_font(doc, rdb, ref_or_dict, cache: dict) -> FontDesc:
    """pdf_load_font dispatch + per-document memo cache
    (src/vcl/pdf_fontss.pas:1274-1338)."""
    if is_indirect(ref_or_dict):
        key = (ref_or_dict.num, ref_or_dict.gen)
        dict_ = doc.resolve(ref_or_dict)
    else:
        key = id(ref_or_dict)
        dict_ = ref_or_dict
    if key in cache:
        return cache[key]
    if not isinstance(dict_, dict):
        raise FontError("bad_font_dict")
    subtype = to_name(doc.get(dict_, "Subtype"))
    is_type3 = subtype == "Type3" or (
        subtype not in ("Type0", "Type1", "MMType1", "TrueType")
        and doc.get(dict_, "CharProcs") is not None
    )
    pure_key = None if is_type3 else _pure_font_key(dict_, doc)
    if pure_key is not None:
        hit = _FONT_MEMO.get(pure_key)
        if hit is not None:
            font, fails = hit
            for code, n in fails.items():
                for _ in range(n):
                    doc.note_failure(code)
            cache[key] = font
            return font
        before = dict(doc.failures)
    if subtype == "Type0":
        font = load_type0_font(doc, dict_)
    elif subtype in ("Type1", "MMType1", "TrueType"):
        font = load_simple_font(doc, dict_)
    elif is_type3:
        font = load_type3_font(doc, rdb, dict_)
    elif doc.get(dict_, "DescendantFonts") is not None:
        font = load_type0_font(doc, dict_)
    else:
        font = load_simple_font(doc, dict_)
    if pure_key is not None:
        delta = {
            c: doc.failures[c] - before.get(c, 0)
            for c in doc.failures
            if doc.failures[c] > before.get(c, 0)
        }
        if len(_FONT_MEMO) >= _FONT_MEMO_CAP:
            _FONT_MEMO.clear()
        _FONT_MEMO[pure_key] = (font, delta)
    cache[key] = font
    return font
