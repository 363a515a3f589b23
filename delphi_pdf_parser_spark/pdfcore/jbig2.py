"""JBIG2 (embedded, PDF flavor) decoding, from scratch.

ABOVE-REFERENCE: the reference's own JBIG2 filter is a stub returning
nil (src/vcl/fz_filterss.pas:441-445), so nothing here is required for
parity. Every T.88 segment family the embedded (PDF) profile can carry
decodes: the embedded-stream segment parser (T.88 Annex D.2 / PDF 32000
§7.4.7, incl. JBIG2Globals) and page info; the MQ arithmetic decoder
(Annex E software conventions); generic regions (§6.2: templates 0-3,
nominal or custom AT pixels, TPGDON, or MMR via the CCITT G4 decoder);
generic refinement (§6.3: templates 0/1, TPGRON) for refinement region
segments; symbol dictionaries (§6.5) and text regions (§6.4) in both
codings, incl. refined text instances and SDREFAGG dictionaries whose
REFAGGNINST>1 aggregates are nested text regions; pattern dictionaries
and halftone regions (§6.7/§6.6: collective-bitmap pattern split,
gray-coded bitplanes, 8.8 fixed-point skew grid, HENABLESKIP, ignored in
MMR grayscale mode per Annex C.5); and custom Huffman table segments
(B.2, type 53) beside the standard tables B.1-B.15.

Like jbig2dec, the decoder the paper's reference MuPDF uses, there is
one symbol-dictionary and one text-region decoder: each reads its
integers through one source object, arithmetic (Annex A IAx/IAID
contexts) or Huffman (Annex B tables, the §7.4.3.1.7 symbol ID table),
and only the source branches on SDHUFF/SBHUFF. Every region lands in its
destination through one composition helper, _compose.

Caveat recorded for honesty: with no JBIG2 library in this runtime the
MQ coder is validated by encoder/decoder round-trip (fixtures ship an
independent MQ+generic-region ENCODER) plus the published state-table
invariants — not against third-party streams.
"""

from __future__ import annotations

from functools import partial


class Jbig2Error(Exception):
    pass


class Jbig2Unsupported(Jbig2Error):
    pass


# ITU T.88 Table E.1 — MQ-coder probability state machine:
# (Qe, NMPS, NLPS, SWITCH)
QE_TABLE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQDecoder:
    """T.88 Annex E (software conventions: INITDEC / DECODE / BYTEIN)."""

    __slots__ = ("data", "bp", "c", "a", "ct")

    def __init__(self, data: bytes):
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _byte(self, i: int) -> int:
        return self.data[i] if i < len(self.data) else 0xFF

    def _bytein(self) -> None:
        if self._byte(self.bp) == 0xFF:
            if self._byte(self.bp + 1) > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += self._byte(self.bp) << 9
                self.ct = 7
        else:
            self.bp += 1
            self.c += self._byte(self.bp) << 8
            self.ct = 8

    def decode(self, cx: list) -> int:
        """cx = [index, mps] mutable context state."""
        icx, mps = cx
        qe, nmps, nlps, switch = QE_TABLE[icx]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange path
            if self.a < qe:
                d = mps
                cx[0] = nmps
            else:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if (self.a & 0x8000) != 0:
                return mps
            if self.a < qe:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            else:
                d = mps
                cx[0] = nmps
        # renormalize
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


class MQEncoder:
    """T.88 Annex E encoder (INITENC / CODEMPS / CODELPS / FLUSH).
    Fixture-side counterpart of MQDecoder; the state table is shared spec
    data, the algorithms are disjoint. Interval layout matches the
    decoder: LPS normally owns [0, Qe), MPS the top; conditional
    exchange when the MPS share shrinks below Qe."""

    __slots__ = ("out", "c", "a", "ct")

    def __init__(self):
        self.out = bytearray([0])  # scratch prefix byte (carry target)
        self.c = 0
        self.a = 0x8000
        self.ct = 12

    def _byteout(self) -> None:
        if self.out[-1] == 0xFF:
            # stuffed byte: bits 20-27 UNMASKED — bit 7 carries a pending
            # carry (values up to 0x8F; that is exactly why the decoder
            # treats >0x8F after 0xFF as the end marker)
            self.out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        else:
            if self.c > 0x7FFFFFF:
                self.out[-1] += 1  # carry
                self.c &= 0x7FFFFFF
                if self.out[-1] == 0xFF:
                    self.out.append((self.c >> 20) & 0xFF)
                    self.c &= 0xFFFFF
                    self.ct = 7
                    return
            self.out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, cx: list, d: int) -> None:
        icx, mps = cx
        qe, nmps, nlps, switch = QE_TABLE[icx]
        self.a -= qe
        if d == mps:
            if self.a & 0x8000:
                self.c += qe  # MPS at top, no renorm
                return
            if self.a < qe:
                self.a = qe  # exchange: MPS takes the bottom [0, Qe)
            else:
                self.c += qe
            cx[0] = nmps
        else:
            if self.a < qe:
                self.c += qe  # exchange: LPS at top, size a (= A - Qe)
            else:
                self.a = qe  # LPS at bottom [0, Qe)
            if switch:
                cx[1] = 1 - mps
            cx[0] = nlps
        self._renorm()

    def flush(self) -> bytes:
        # SETBITS (OpenJPEG formulation of T.88 E.11)
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        # strip the scratch prefix; trailing 0xFF bytes are harmless
        # (the decoder feeds 1-bits past the end by design)
        return bytes(self.out[1:])


# --- generic region decoding (T.88 6.2) --------------------------------------

# nominal AT pixel positions per template (T.88 6.2.5.3)
_NOMINAL_AT = {
    0: ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    1: ((3, -1),),
    2: ((2, -1),),
    3: ((2, -1),),
}

# TPGDON pseudo-pixel contexts (T.88 6.2.5.7)
_TPGDON_CTX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}

_CTX_SIZE = {0: 1 << 16, 1: 1 << 13, 2: 1 << 10, 3: 1 << 10}


def _gb_context(img, x, y, w, template, at):
    """Context value for pixel (x, y); out-of-bounds pixels read 0.
    Bit layout follows the T.88 template figures (low bits = the pixels
    immediately left on the current row)."""

    def px(dx, dy):
        xx, yy = x + dx, y + dy
        if xx < 0 or xx >= w or yy < 0:
            return 0
        return img[yy][xx]

    if template == 0:
        a1, a2, a3, a4 = at
        return (
            px(-1, 0)
            | (px(-2, 0) << 1)
            | (px(-3, 0) << 2)
            | (px(-4, 0) << 3)
            | (px(a1[0], a1[1]) << 4)
            | (px(2, -1) << 5)
            | (px(1, -1) << 6)
            | (px(0, -1) << 7)
            | (px(-1, -1) << 8)
            | (px(-2, -1) << 9)
            | (px(a2[0], a2[1]) << 10)
            | (px(1, -2) << 11)
            | (px(0, -2) << 12)
            | (px(-1, -2) << 13)
            | (px(a3[0], a3[1]) << 14)
            | (px(a4[0], a4[1]) << 15)
        )
    if template == 1:
        (a1,) = at
        return (
            px(-1, 0)
            | (px(-2, 0) << 1)
            | (px(-3, 0) << 2)
            | (px(a1[0], a1[1]) << 3)
            | (px(2, -1) << 4)
            | (px(1, -1) << 5)
            | (px(0, -1) << 6)
            | (px(-1, -1) << 7)
            | (px(-2, -1) << 8)
            | (px(2, -2) << 9)
            | (px(1, -2) << 10)
            | (px(0, -2) << 11)
            | (px(-1, -2) << 12)
        )
    if template == 2:
        (a1,) = at
        return (
            px(-1, 0)
            | (px(-2, 0) << 1)
            | (px(a1[0], a1[1]) << 2)
            | (px(1, -1) << 3)
            | (px(0, -1) << 4)
            | (px(-1, -1) << 5)
            | (px(-2, -1) << 6)
            | (px(1, -2) << 7)
            | (px(0, -2) << 8)
            | (px(-1, -2) << 9)
        )
    # template 3: single reference line
    (a1,) = at
    return (
        px(-1, 0)
        | (px(-2, 0) << 1)
        | (px(-3, 0) << 2)
        | (px(-4, 0) << 3)
        | (px(a1[0], a1[1]) << 4)
        | (px(1, -1) << 5)
        | (px(0, -1) << 6)
        | (px(-1, -1) << 7)
        | (px(-2, -1) << 8)
        | (px(-3, -1) << 9)
    )


def decode_generic_region(
    data: bytes,
    width: int,
    height: int,
    template: int = 0,
    at: tuple | None = None,
    tpgdon: bool = False,
    max_pixels: int = 1 << 22,
) -> list:
    """MQ-coded generic region -> rows of 0/1 ints (1 = black).

    Pure-Python sequential decode (arithmetic coding cannot be
    vectorized); max_pixels guards the image sink against spending
    minutes on a giant scan — larger regions raise Jbig2Unsupported and
    fall back to raw passthrough."""
    if width * height > max_pixels:
        raise Jbig2Unsupported(f"region {width}x{height} > max_pixels")
    at = _check_at(at, template)
    mq = MQDecoder(data)
    cx = [[0, 0] for _ in range(_CTX_SIZE[template])]
    return _decode_generic_into(mq, cx, width, height, template, at, tpgdon)


def _read_at(body: bytes, pos: int, n: int) -> tuple[list, int]:
    """n signed (x, y) AT-pixel byte pairs at body[pos:] -> (pairs, pos
    after them); bytes past the end of body read 0."""
    at = [
        (int.from_bytes(body[p : p + 1], "big", signed=True),
         int.from_bytes(body[p + 1 : p + 2], "big", signed=True))
        for p in range(pos, pos + 2 * n, 2)
    ]
    return at, pos + 2 * n


def _check_at(at, template):
    at = tuple(at) if at else _NOMINAL_AT[template]
    for ax, ay in at:
        # AT pixels must reference already-decoded positions (T.88
        # 6.2.5.4); anything else is a corrupt/hostile stream
        if ay > 0 or (ay == 0 and ax >= 0):
            raise Jbig2Error(f"non-causal AT pixel ({ax},{ay})")
        if abs(ax) > 127 or abs(ay) > 127:
            raise Jbig2Error("AT pixel out of range")
    return at


def _decode_generic_into(mq, cx, width, height, template, at, tpgdon,
                         skip=None):
    """Core generic decode with a SHARED MQ decoder + context array (the
    symbol dictionary decodes every symbol through one coder/state).
    skip: optional bitmap — pixels where skip=1 are 0 WITHOUT decoding
    (T.88 6.2.5.7 step 3; used by halftone HENABLESKIP)."""
    img = [[0] * width for _ in range(height)]
    ltp = 0
    for y in range(height):
        if tpgdon:
            sltp = mq.decode(cx[_TPGDON_CTX[template]])
            ltp ^= sltp
            if ltp:
                if y > 0:
                    img[y] = list(img[y - 1])
                continue
        row = img[y]
        srow = skip[y] if skip is not None else None
        for x in range(width):
            if srow is not None and srow[x]:
                continue  # stays 0, no bit decoded
            ctx = _gb_context(img, x, y, width, template, at)
            row[x] = mq.decode(cx[ctx])
    return img


def encode_generic_region(
    bitmap: list,
    template: int = 0,
    at: tuple | None = None,
    tpgdon: bool = False,
) -> bytes:
    """Fixture-side generic-region encoder (same context model, disjoint
    coder): encodes rows of 0/1 ints with the MQ encoder."""
    height = len(bitmap)
    width = len(bitmap[0]) if height else 0
    at = tuple(at) if at else _NOMINAL_AT[template]
    enc = MQEncoder()
    cx = [[0, 0] for _ in range(_CTX_SIZE[template])]
    img = [[0] * width for _ in range(height)]  # decoded-so-far view
    ltp = 0
    for y in range(height):
        if tpgdon:
            same = y > 0 and bitmap[y] == img[y - 1]
            sltp = 1 if (ltp ^ (1 if same else 0)) else 0
            # choose SLTP so that new LTP == same
            sltp = ltp ^ (1 if same else 0)
            enc.encode(cx[_TPGDON_CTX[template]], sltp)
            ltp ^= sltp
            if ltp:
                img[y] = list(img[y - 1])
                continue
        row = bitmap[y]
        for x in range(width):
            ctx = _gb_context(img, x, y, width, template, at)
            enc.encode(cx[ctx], row[x])
            img[y][x] = row[x]
    return enc.flush()


def _unpack_rows(packed: bytes, width: int, height: int) -> list:
    """MSB-first packed rows (byte-aligned stride) -> rows of 0/1."""
    stride = (width + 7) // 8
    return [
        [(packed[y * stride + (x >> 3)] >> (7 - (x & 7))) & 1
         for x in range(width)]
        for y in range(height)
    ]


def _compose(dst: list, src: list, x: int, y: int, op: int) -> None:
    """Combine bitmap src into dst with its top-left pixel at (x, y),
    clipped to dst. op: 0 OR, 1 AND, 2 XOR, 3 XNOR, 4-7 REPLACE (the
    T.88 combination operators of region info and text regions)."""
    sh, sw, dh, dw = len(src), len(src[0]), len(dst), len(dst[0])
    if y >= dh or y + sh <= 0 or x >= dw or x + sw <= 0:
        return  # a halftone grid places most patterns outside the region
    x0 = -x if x < 0 else 0
    x1 = sw if x + sw <= dw else dw - x
    for sy in range(-y if y < 0 else 0, sh if y + sh <= dh else dh - y):
        drow, srow = dst[y + sy], src[sy]
        for sx in range(x0, x1):
            v = srow[sx]
            if op == 0:
                drow[x + sx] |= v
            elif op == 1:
                drow[x + sx] &= v
            elif op == 2:
                drow[x + sx] ^= v
            elif op == 3:
                drow[x + sx] = 1 - (drow[x + sx] ^ v)
            else:
                drow[x + sx] = v


# --- embedded-stream segment parsing (T.88 7.2, PDF 32000 7.4.7) -------------


def _parse_segment_header(data: bytes, pos: int) -> tuple[dict, int]:
    if pos + 11 > len(data):
        raise Jbig2Error("truncated segment header")
    number = int.from_bytes(data[pos : pos + 4], "big")
    flags = data[pos + 4]
    seg_type = flags & 0x3F
    page_assoc_4 = bool(flags & 0x40)
    pos += 5
    rts = data[pos]
    count = rts >> 5
    if count == 7:
        count = int.from_bytes(data[pos : pos + 4], "big") & 0x1FFFFFFF
        pos += 4 + (count + 8) // 8  # long form + retain bits
    else:
        pos += 1
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    if pos + count * ref_size > len(data):
        # a long-form count reaches 2^29 refs: bound it by the data
        raise Jbig2Error("truncated segment header")
    refs = []
    for _ in range(count):
        refs.append(int.from_bytes(data[pos : pos + ref_size], "big"))
        pos += ref_size
    if page_assoc_4:
        page = int.from_bytes(data[pos : pos + 4], "big")
        pos += 4
    else:
        page = data[pos]
        pos += 1
    length = int.from_bytes(data[pos : pos + 4], "big")
    pos += 4
    if length == 0xFFFFFFFF:
        raise Jbig2Unsupported("unknown segment data length")
    return (
        {
            "number": number,
            "type": seg_type,
            "refs": refs,
            "page": page,
            "length": length,
        },
        pos,
    )


def _iter_segments(data: bytes):
    pos = 0
    while pos < len(data):
        hdr, body_start = _parse_segment_header(data, pos)
        body = data[body_start : body_start + hdr["length"]]
        yield hdr, body
        pos = body_start + hdr["length"]


def _parse_region_info(body: bytes) -> dict:
    if len(body) < 17:
        raise Jbig2Error("truncated region info")
    return {
        "w": int.from_bytes(body[0:4], "big"),
        "h": int.from_bytes(body[4:8], "big"),
        "x": int.from_bytes(body[8:12], "big"),
        "y": int.from_bytes(body[12:16], "big"),
        "comb_op": body[16] & 7,
    }


# segment types (T.88 table 34)
_T_SYMBOL_DICT = 0
_T_TEXT_REGION = (4, 6, 7)
_T_PATTERN_DICT = 16
_T_HALFTONE = (20, 22, 23)
_T_GENERIC = (36, 38, 39)
_T_REFINE = (40, 42, 43)
_T_PAGE_INFO = 48
_T_END_PAGE = 49
_T_END_STRIPE = 50
_T_END_FILE = 51
_T_PROFILES = 52
_T_TABLES = 53
_T_EXTENSION = 62


def jbig2_decode(
    data: bytes,
    globals_data: bytes = b"",
    width: int | None = None,
    height: int | None = None,
    invert: bool = True,
    max_pixels: int = 1 << 22,
) -> tuple[int, int, bytes]:
    """Typed boundary wrapper — corrupt segment bodies never surface bare
    builtin exceptions."""
    try:
        return _jbig2_decode(
            data, globals_data, width, height, invert, max_pixels
        )
    except Jbig2Error:
        raise
    except (IndexError, ValueError, KeyError, OverflowError) as e:
        raise Jbig2Error(f"corrupt: {type(e).__name__}: {e}")


def _jbig2_decode(
    data, globals_data, width, height, invert, max_pixels
) -> tuple[int, int, bytes]:
    """Embedded JBIG2 (PDF flavor) -> (width, height, packed 1-bpc rows).

    JBIG2 codes 1 = black; with invert=True (default) the output follows
    the PDF imaging convention for 1-bpc DeviceGray (0 = black), like the
    CCITT path's BlackIs1=false. Intermediate regions and anything past
    max_pixels raise Jbig2Unsupported (the sink falls back to raw
    passthrough — still strictly more than the reference's nil stub).
    """
    page_w, page_h = width, height
    page = None
    default_pixel = 0
    sym_dicts: dict[int, list] = {}  # segment number -> exported symbols
    pat_dicts: dict[int, list] = {}  # segment number -> patterns
    custom_tables: dict[int, "HuffTable"] = {}  # table segments

    def ensure_page(w, h):
        nonlocal page, page_w, page_h
        if page is None:
            page_w = page_w or w
            page_h = page_h or h
            if page_w * page_h > max_pixels or page_w <= 0 or page_h <= 0:
                raise Jbig2Unsupported(
                    f"page {page_w}x{page_h} exceeds max_pixels"
                )
            page = [
                [default_pixel] * page_w for _ in range(page_h)
            ]

    for hdr, body in list(_iter_segments(globals_data)) + list(
        _iter_segments(data)
    ):
        t = hdr["type"]
        if t == _T_PAGE_INFO:
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            if h == 0xFFFFFFFF:
                h = height or 0
            flags = body[16] if len(body) > 16 else 0
            default_pixel = (flags >> 2) & 1
            if w and h:
                ensure_page(w, h)
        elif t in _T_GENERIC:
            info = _parse_region_info(body)
            if info["w"] * info["h"] > max_pixels or not info["w"] or not info["h"]:
                raise Jbig2Unsupported(
                    f"region {info['w']}x{info['h']} exceeds max_pixels"
                )
            flags = body[17]
            mmr = flags & 1
            template = (flags >> 1) & 3
            tpgdon = bool(flags & 8)
            if mmr:
                region = _mmr_bitmap(body[18:], info["w"], info["h"])
            else:
                at, pos = _read_at(body, 18, 4 if template == 0 else 1)
                region = decode_generic_region(
                    body[pos:], info["w"], info["h"], template=template,
                    at=at, tpgdon=tpgdon, max_pixels=max_pixels,
                )
            ensure_page(info["x"] + info["w"], info["y"] + info["h"])
            _compose(page, region, info["x"], info["y"], info["comb_op"])
        elif t in (_T_END_PAGE, _T_END_STRIPE, _T_END_FILE, _T_PROFILES,
                   _T_EXTENSION):
            continue
        elif t == _T_SYMBOL_DICT:
            inputs: list = []
            tabs: list = []
            for r in hdr["refs"]:
                inputs.extend(sym_dicts.get(r, []))
                if r in custom_tables:
                    tabs.append(custom_tables[r])
            sym_dicts[hdr["number"]] = decode_symbol_dict(
                body, inputs, max_pixels=max_pixels, tables=tabs
            )
        elif t in _T_TEXT_REGION:
            syms: list = []
            tabs = []
            for r in hdr["refs"]:
                syms.extend(sym_dicts.get(r, []))
                if r in custom_tables:
                    tabs.append(custom_tables[r])
            info, region = decode_text_region(
                body, syms, max_pixels=max_pixels, tables=tabs
            )
            if t == 4:
                raise Jbig2Unsupported("intermediate text region")
            ensure_page(info["x"] + info["w"], info["y"] + info["h"])
            _compose(page, region, info["x"], info["y"], info["comb_op"])
        elif t == _T_PATTERN_DICT:
            pat_dicts[hdr["number"]] = decode_pattern_dict(body, max_pixels)
        elif t in _T_HALFTONE:
            if t == 20:
                raise Jbig2Unsupported("intermediate halftone region")
            pats: list = []
            for r in hdr["refs"]:
                pats.extend(pat_dicts.get(r, []))
            info, region = decode_halftone_region(
                body, pats, max_pixels=max_pixels
            )
            ensure_page(info["x"] + info["w"], info["y"] + info["h"])
            _compose(page, region, info["x"], info["y"], info["comb_op"])
        elif t in _T_REFINE:
            # generic refinement region (T.88 §7.4.7): refine the current
            # page content inside the region rect
            if t == 40:
                raise Jbig2Unsupported("intermediate refinement region")
            info = _parse_region_info(body)
            if info["w"] * info["h"] > max_pixels or not info["w"] or not info["h"]:
                raise Jbig2Unsupported("refinement region exceeds max_pixels")
            rflags = body[17]
            template = rflags & 1
            tpgron = bool(rflags & 2)
            at, pos = _GR_NOMINAL_AT, 18
            if template == 0:
                at, pos = _read_at(body, pos, 2)
            ensure_page(info["x"] + info["w"], info["y"] + info["h"])
            ref = [
                page[info["y"] + ry][info["x"] : info["x"] + info["w"]]
                if 0 <= info["y"] + ry < page_h
                else [0] * info["w"]
                for ry in range(info["h"])
            ]
            mq = MQDecoder(body[pos:])
            gr_cx = [[0, 0] for _ in range(_GR_CTX_SIZE[template])]
            region = decode_refinement(
                mq, gr_cx, info["w"], info["h"], ref, 0, 0,
                template=template, at=at, tpgron=tpgron,
            )
            _compose(page, region, info["x"], info["y"], info["comb_op"])
        elif t == _T_TABLES:
            custom_tables[hdr["number"]] = decode_table_segment(body)
        # unknown types: skip (forward compatibility)
    if page is None:
        raise Jbig2Error("no page produced")
    stride = (page_w + 7) // 8
    out = bytearray(stride * page_h)
    for y, row in enumerate(page):
        base = y * stride
        for x, v in enumerate(row):
            if v:
                out[base + (x >> 3)] |= 0x80 >> (x & 7)
    if invert:
        for i in range(len(out)):
            out[i] ^= 0xFF
        if page_w & 7:
            mask = 0xFF << (8 - (page_w & 7)) & 0xFF
            for y in range(page_h):
                out[y * stride + stride - 1] &= mask
    return page_w, page_h, bytes(out)


# --- integer arithmetic decoding (T.88 Annex A) -------------------------------

OOB = object()  # out-of-band marker (end of a run / strip)

# value buckets: (prefix bits after sign, value bits, offset)
_IA_BUCKETS = ((0, 2, 0), (1, 4, 4), (2, 6, 20), (3, 8, 84),
               (4, 12, 340), (5, 32, 4436))


class IntCtx:
    """One IAx context: 512 MQ contexts addressed by the PREV tree."""

    __slots__ = ("cx",)

    def __init__(self):
        self.cx = [[0, 0] for _ in range(512)]


def decode_int(mq: MQDecoder, ia: IntCtx):
    """-> int or OOB (T.88 A.2)."""
    prev = 1

    def bit():
        nonlocal prev
        b = mq.decode(ia.cx[prev])
        prev = ((prev << 1) | b) if prev < 256 else (
            ((((prev << 1) | b) & 511) | 256)
        )
        return b

    s = bit()
    if not bit():
        n, off = 2, 0
    elif not bit():
        n, off = 4, 4
    elif not bit():
        n, off = 6, 20
    elif not bit():
        n, off = 8, 84
    elif not bit():
        n, off = 12, 340
    else:
        n, off = 32, 4436
    v = 0
    for _ in range(n):
        v = (v << 1) | bit()
    v += off
    if s and v == 0:
        return OOB
    return -v if s else v


def encode_int(mq: MQEncoder, ia: IntCtx, value) -> None:
    """Inverse of decode_int (fixture side)."""
    prev = 1

    def bit(b):
        nonlocal prev
        mq.encode(ia.cx[prev], b)
        prev = ((prev << 1) | b) if prev < 256 else (
            ((((prev << 1) | b) & 511) | 256)
        )

    if value is OOB:
        s, v = 1, 0
    else:
        s = 1 if value < 0 else 0
        v = -value if value < 0 else value
    bit(s)
    for i, (_pfx, n, off) in enumerate(_IA_BUCKETS):
        hi = off + (1 << n) - 1
        if v <= hi or n == 32:
            for _ in range(i):
                bit(1)
            if i < len(_IA_BUCKETS) - 1:
                bit(0)
            vv = v - off
            for k in range(n - 1, -1, -1):
                bit((vv >> k) & 1)
            return
    raise Jbig2Error("encode_int: value out of range")


class IdCtx:
    """IAID context tree: 2^(codelen+1) MQ contexts."""

    __slots__ = ("cx", "codelen")

    def __init__(self, codelen: int):
        self.codelen = codelen
        self.cx = [[0, 0] for _ in range(1 << (codelen + 1))]


def decode_id(mq: MQDecoder, ia: IdCtx) -> int:
    prev = 1
    for _ in range(ia.codelen):
        b = mq.decode(ia.cx[prev])
        prev = (prev << 1) | b
    return prev - (1 << ia.codelen)


def encode_id(mq: MQEncoder, ia: IdCtx, value: int) -> None:
    prev = 1
    for k in range(ia.codelen - 1, -1, -1):
        b = (value >> k) & 1
        mq.encode(ia.cx[prev], b)
        prev = (prev << 1) | b


# --- Huffman coding (T.88 Annex B) ------------------------------------------


class _BitReader:
    """MSB-first bit reader over a bytes payload (T.88 Huffman side)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read1(self) -> int:
        if self.pos >= len(self.data):
            raise Jbig2Error("huffman bitstream overrun")
        v = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read1()
        return v

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1

    def read_bytes(self, n: int) -> bytes:
        self.align()
        if self.pos + n > len(self.data):
            raise Jbig2Error("huffman payload overrun")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


class _BitWriter:
    """MSB-first counterpart (fixture encoders)."""

    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.buf = (self.buf << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                self.buf = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.write(0, 1)

    def write_bytes(self, b: bytes) -> None:
        self.align()
        self.out += b

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class HuffTable:
    """Canonical Huffman table per T.88 Annex B: lines are
    (prefix_len, range_len, range_low, kind) with kind 'n' (normal),
    'lower' (values range_low, range_low-1, ... downward) or 'oob'.
    Code assignment follows B.3 (counts per length, table order within a
    length). decode() returns an int or the OOB sentinel."""

    def __init__(self, lines):
        self.lines = [
            (pl, rl, lo, kd) for (pl, rl, lo, kd) in lines if pl > 0
        ]
        maxlen = max((pl for pl, _, _, _ in self.lines), default=0)
        count = [0] * (maxlen + 1)
        for pl, _, _, _ in self.lines:
            count[pl] += 1
        self.codes = {}
        firstcode = 0
        for curlen in range(1, maxlen + 1):
            firstcode = (firstcode + count[curlen - 1]) << 1
            cur = firstcode
            for line in self.lines:
                if line[0] == curlen:
                    if cur >= (1 << curlen):
                        raise Jbig2Error("huffman code overflow")
                    self.codes[(curlen, cur)] = line
                    cur += 1
        self.maxlen = maxlen

    def decode(self, br: _BitReader):
        length = 0
        code = 0
        while length < self.maxlen:
            code = (code << 1) | br.read1()
            length += 1
            line = self.codes.get((length, code))
            if line is not None:
                pl, rl, lo, kd = line
                if kd == "oob":
                    return OOB
                v = br.read(rl)
                if kd == "lower":
                    return lo - v
                return lo + v
        raise Jbig2Error("invalid huffman code")

    def _line_code(self, target):
        for (length, code), line in self.codes.items():
            if line is target:
                return length, code
        raise Jbig2Error("line has no code")

    def encode(self, bw: _BitWriter, value) -> None:
        """Fixture-side: emit the prefix + offset bits for `value`
        (or the OOB sentinel)."""
        if value is OOB:
            for line in self.lines:
                if line[3] == "oob":
                    ln, cd = self._line_code(line)
                    bw.write(cd, ln)
                    return
            raise Jbig2Error("table has no OOB line")
        finite = None
        for line in self.lines:
            pl, rl, lo, kd = line
            if kd == "n" and rl < 32 and lo <= value < lo + (1 << rl):
                finite = line
                break
        if finite is None:
            for line in self.lines:
                pl, rl, lo, kd = line
                if kd == "lower" and value <= lo:
                    finite = line
                    value = lo - value  # offset below
                    ln, cd = self._line_code(line)
                    bw.write(cd, ln)
                    bw.write(value, rl)
                    return
                if kd == "n" and rl == 32 and value >= lo:
                    finite = line
                    break
        if finite is None:
            raise Jbig2Error(f"value {value} not codable by table")
        pl, rl, lo, kd = finite
        ln, cd = self._line_code(finite)
        bw.write(cd, ln)
        bw.write(value - lo, rl)


# Annex B standard tables. Data: ITU-T T.88 Tables B.1-B.15 (public spec
# tables, same category as the shared QE table). Interop caveat as for
# the MQ coder: validated by encoder/decoder round-trip + per-table
# range-continuity assertions, no third-party streams in this runtime.
_N, _LOW, _OOB_K = "n", "lower", "oob"
_STD_LINES = {
    1: [(1, 4, 0, _N), (2, 8, 16, _N), (3, 16, 272, _N), (3, 32, 65808, _N)],
    2: [(1, 0, 0, _N), (2, 0, 1, _N), (3, 0, 2, _N), (4, 3, 3, _N),
        (5, 6, 11, _N), (6, 32, 75, _N), (6, 0, 0, _OOB_K)],
    3: [(8, 8, -256, _N), (1, 0, 0, _N), (2, 0, 1, _N), (3, 0, 2, _N),
        (4, 3, 3, _N), (5, 6, 11, _N), (8, 32, -257, _LOW),
        (7, 32, 75, _N), (6, 0, 0, _OOB_K)],
    4: [(1, 0, 1, _N), (2, 0, 2, _N), (3, 0, 3, _N), (4, 3, 4, _N),
        (5, 6, 12, _N), (5, 32, 76, _N)],
    5: [(7, 8, -255, _N), (1, 0, 1, _N), (2, 0, 2, _N), (3, 0, 3, _N),
        (4, 3, 4, _N), (5, 6, 12, _N), (7, 32, -256, _LOW),
        (6, 32, 76, _N)],
    6: [(5, 10, -2048, _N), (4, 9, -1024, _N), (4, 8, -512, _N),
        (4, 7, -256, _N), (5, 6, -128, _N), (5, 5, -64, _N),
        (4, 5, -32, _N), (2, 7, 0, _N), (3, 7, 128, _N), (3, 8, 256, _N),
        (4, 9, 512, _N), (4, 10, 1024, _N), (6, 32, -2049, _LOW),
        (6, 32, 2048, _N)],
    7: [(4, 9, -1024, _N), (3, 8, -512, _N), (4, 7, -256, _N),
        (5, 6, -128, _N), (5, 5, -64, _N), (4, 5, -32, _N), (4, 5, 0, _N),
        (5, 5, 32, _N), (5, 6, 64, _N), (4, 7, 128, _N), (3, 8, 256, _N),
        (3, 9, 512, _N), (3, 10, 1024, _N), (5, 32, -1025, _LOW),
        (5, 32, 2048, _N)],
    8: [(8, 3, -15, _N), (9, 1, -7, _N), (8, 1, -5, _N), (9, 0, -3, _N),
        (7, 0, -2, _N), (4, 0, -1, _N), (2, 1, 0, _N), (5, 0, 2, _N),
        (6, 0, 3, _N), (3, 4, 4, _N), (6, 1, 20, _N), (4, 4, 22, _N),
        (4, 5, 38, _N), (5, 6, 70, _N), (5, 7, 134, _N), (6, 7, 262, _N),
        (7, 8, 390, _N), (6, 10, 646, _N), (9, 32, -16, _LOW),
        (9, 32, 1670, _N), (2, 0, 0, _OOB_K)],
    9: [(8, 4, -31, _N), (9, 2, -15, _N), (8, 2, -11, _N), (9, 1, -7, _N),
        (7, 1, -5, _N), (4, 1, -3, _N), (3, 1, -1, _N), (3, 1, 1, _N),
        (5, 1, 3, _N), (6, 1, 5, _N), (3, 5, 7, _N), (6, 2, 39, _N),
        (4, 5, 43, _N), (4, 6, 75, _N), (5, 7, 139, _N), (5, 8, 267, _N),
        (6, 8, 523, _N), (7, 9, 779, _N), (6, 11, 1291, _N),
        (9, 32, -32, _LOW), (9, 32, 3339, _N), (2, 0, 0, _OOB_K)],
    10: [(7, 4, -21, _N), (8, 0, -5, _N), (7, 0, -4, _N), (5, 0, -3, _N),
         (2, 2, -2, _N), (5, 0, 2, _N), (6, 0, 3, _N), (7, 0, 4, _N),
         (8, 0, 5, _N), (2, 6, 6, _N), (5, 5, 70, _N), (6, 5, 102, _N),
         (6, 6, 134, _N), (6, 7, 198, _N), (6, 8, 326, _N),
         (6, 9, 582, _N), (6, 10, 1094, _N), (7, 11, 2118, _N),
         (8, 32, -22, _LOW), (8, 32, 4166, _N), (2, 0, 0, _OOB_K)],
    11: [(1, 0, 1, _N), (2, 1, 2, _N), (4, 0, 4, _N), (4, 1, 5, _N),
         (5, 1, 7, _N), (5, 2, 9, _N), (6, 2, 13, _N), (7, 2, 17, _N),
         (7, 3, 21, _N), (7, 4, 29, _N), (7, 5, 45, _N), (7, 6, 77, _N),
         (7, 32, 141, _N)],
    12: [(1, 0, 1, _N), (2, 0, 2, _N), (3, 1, 3, _N), (5, 0, 5, _N),
         (5, 1, 6, _N), (6, 1, 8, _N), (7, 0, 10, _N), (7, 1, 11, _N),
         (7, 2, 13, _N), (7, 3, 17, _N), (7, 4, 25, _N), (8, 5, 41, _N),
         (8, 32, 73, _N)],
    13: [(1, 0, 1, _N), (3, 0, 2, _N), (4, 0, 3, _N), (5, 0, 4, _N),
         (4, 1, 5, _N), (3, 3, 7, _N), (6, 1, 15, _N), (6, 2, 17, _N),
         (6, 3, 21, _N), (6, 4, 29, _N), (6, 5, 45, _N), (7, 6, 77, _N),
         (7, 32, 141, _N)],
    14: [(3, 0, -2, _N), (3, 0, -1, _N), (1, 0, 0, _N), (3, 0, 1, _N),
         (3, 0, 2, _N)],
    15: [(7, 4, -24, _N), (6, 2, -8, _N), (5, 1, -4, _N), (4, 0, -2, _N),
         (3, 0, -1, _N), (1, 0, 0, _N), (3, 0, 1, _N), (4, 0, 2, _N),
         (5, 1, 3, _N), (6, 2, 5, _N), (7, 4, 9, _N), (7, 32, -25, _LOW),
         (7, 32, 25, _N)],
}

_STD_CACHE: dict[int, HuffTable] = {}


def std_table(n: int) -> HuffTable:
    t = _STD_CACHE.get(n)
    if t is None:
        t = _STD_CACHE[n] = HuffTable(_STD_LINES[n])
    return t


def _check_table_continuity():
    """Finite ranges must tile without gaps and meet the lower/upper
    32-bit lines exactly — catches data-entry typos at import time."""
    for n, lines in _STD_LINES.items():
        finite = [
            (lo, lo + (1 << rl) - 1)
            for pl, rl, lo, kd in lines
            if kd == "n" and rl < 32
        ]
        finite.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(finite, finite[1:]):
            if b_lo != a_hi + 1:
                raise AssertionError(f"table B.{n} gap at {a_hi}->{b_lo}")
        uppers = [lo for pl, rl, lo, kd in lines if kd == "n" and rl == 32]
        if uppers and finite and uppers[0] != finite[-1][1] + 1:
            raise AssertionError(f"table B.{n} upper misaligned")
        lowers = [lo for pl, rl, lo, kd in lines if kd == "lower"]
        if lowers and finite and lowers[0] != finite[0][0] - 1:
            raise AssertionError(f"table B.{n} lower misaligned")


_check_table_continuity()


def _mmr_bitmap(payload: bytes, width: int, height: int) -> list:
    """MMR (T.6)-coded bytes -> rows of 0/1 via the CCITT G4 decoder."""
    from .ccitt import CcittError, ccitt_decode

    try:
        packed = ccitt_decode(
            payload, columns=width, rows=height, k=-1, black_is_1=True
        )
    except CcittError as e:
        raise Jbig2Error(f"mmr: {e}")
    return _unpack_rows(packed, width, height)


def _symbol_id_table(br: _BitReader, nsyms: int) -> HuffTable:
    """T.88 7.4.3.1.7: 35 4-bit runcode lengths -> runcode table ->
    per-symbol code lengths -> symbol ID table. Byte-aligns at the end."""
    runlens = [br.read(4) for _ in range(35)]
    runtab = HuffTable(
        [(l, 0, i, _N) for i, l in enumerate(runlens) if l]
    )
    lengths: list[int] = []
    prev = 0
    while len(lengths) < nsyms:
        code = runtab.decode(br)
        if code is OOB:
            raise Jbig2Error("OOB runcode")
        if code < 32:
            lengths.append(code)
            if code > 0:
                prev = code
        elif code == 32:
            lengths += [prev] * (3 + br.read(2))
        elif code == 33:
            lengths += [0] * (3 + br.read(3))
        else:
            lengths += [0] * (11 + br.read(7))
    if len(lengths) != nsyms:
        raise Jbig2Error("runcode overrun")
    br.align()
    return HuffTable([(l, 0, i, _N) for i, l in enumerate(lengths) if l])


# --- integer sources: one per coding ------------------------------------------
#
# The symbol-dictionary and text-region loops read every integer field
# through one source object: DH DW AGGINST EX DT FS DS IT ID RI RDW RDH
# RDX RDY (the T.88 names), each a zero-argument reader, plus
# refine(sym, w, h, dx, dy). Only here do SDHUFF and SBHUFF branch.

_INT_FIELDS = ("DH", "DW", "AGGINST", "EX", "DT", "FS", "DS", "IT", "RI",
               "RDW", "RDH", "RDX", "RDY")


class _ArithFields:
    """Arithmetic source (Annex A): one IAx context per field and the
    IAID tree over one MQ decoder; a refinement decodes on that same
    coder with the owner's GR contexts."""

    def __init__(self, data: bytes, codelen: int, rtemplate: int, r_at):
        self.mq = mq = MQDecoder(data)
        for name in _INT_FIELDS:
            setattr(self, name, partial(decode_int, mq, IntCtx()))
        self.codelen, self.iaid = codelen, None
        self.rtemplate, self.r_at, self.gr_cx = rtemplate, r_at, None

    def ID(self) -> int:
        # built on first use: 2^(codelen+1) contexts that a dictionary
        # without SDREFAGG never reads
        if self.iaid is None:
            self.iaid = IdCtx(self.codelen)
        return decode_id(self.mq, self.iaid)

    def refine(self, sym, w, h, dx, dy):
        if self.gr_cx is None:
            self.gr_cx = [[0, 0] for _ in range(_GR_CTX_SIZE[self.rtemplate])]
        return decode_refinement(
            self.mq, self.gr_cx, w, h, sym, dx, dy,
            template=self.rtemplate, at=self.r_at,
        )


class _HuffmanFields:
    """Huffman source: each field decodes with its table (tables maps
    field -> HuffTable, RSIZE and BMSIZE included); IT is LOGSBSTRIPS raw
    bits, RI one bit, ID the given reader. A refinement reads an RSIZE
    byte count, then that many byte-aligned bytes as an MQ segment
    decoded with fresh contexts; a count below min_size is an error."""

    def __init__(self, br: _BitReader, tables: dict, read_id, log_strips: int,
                 rtemplate: int, r_at, min_size: int):
        for name, table in tables.items():
            setattr(self, name, partial(table.decode, br))
        self.br, self.ID, self.RI = br, read_id, br.read1
        self.IT = partial(br.read, log_strips)
        self.rtemplate, self.r_at, self.min_size = rtemplate, r_at, min_size

    def refine(self, sym, w, h, dx, dy):
        size = self.RSIZE()
        if size is OOB or size < self.min_size:
            raise Jbig2Error(f"bad refinement data size {size}")
        mq = MQDecoder(self.br.read_bytes(size))
        gr_cx = [[0, 0] for _ in range(_GR_CTX_SIZE[self.rtemplate])]
        return decode_refinement(
            mq, gr_cx, w, h, sym, dx, dy, template=self.rtemplate, at=self.r_at
        )


def _pick_tables(referred: list, selectors: dict) -> dict:
    """{field: (selector, standard table numbers)} -> {field: HuffTable}.
    A selector one past the standard numbers takes the next referred
    custom table, in the order given (T.88 7.4.3.1.6, 7.4.4.1.7); a None
    number is a reserved selector."""
    custom = iter(referred)
    out = {}
    for field, (sel, std) in selectors.items():
        if sel == len(std):
            out[field] = next(custom, None)
            if out[field] is None:
                raise Jbig2Error("missing referred custom table")
        elif std[sel] is None:
            raise Jbig2Error(f"reserved {field} table selector {sel}")
        else:
            out[field] = std_table(std[sel])
    return out


def _codelen(nsyms: int) -> int:
    """Fixed symbol-ID code length over nsyms symbols (at least 1)."""
    return max(1, (nsyms - 1).bit_length())


# --- symbol dictionary (T.88 6.5) ---------------------------------------------


def decode_symbol_dict(
    body: bytes, input_syms: list, max_pixels: int = 1 << 22,
    tables: list | None = None,
) -> list:
    """Symbol-dictionary segment body -> list of EXPORTED symbol bitmaps
    (rows of 0/1). Height classes of new symbols, each a generic region
    (arithmetic), a slice of the class's collective bitmap (SDHUFF:
    uncompressed or MMR, 6.5.9), or with SDREFAGG a refinement of one
    earlier symbol (6.5.8.2.2) or an aggregate of several placed by a
    nested text region (6.5.8.2.1); then the export runs (6.5.10)."""
    flags = int.from_bytes(body[0:2], "big")
    sdhuff = flags & 1
    sdrefagg = (flags >> 1) & 1
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    if sdhuff:
        # custom tables are consumed in DH, DW, BMSIZE, AGG order
        tabs = _pick_tables(tables or [], {
            "DH": ((flags >> 2) & 3, (4, 5, 5)),
            "DW": ((flags >> 4) & 3, (2, 3, 3)),
            "BMSIZE": ((flags >> 6) & 1, (1,)),
            "AGGINST": ((flags >> 7) & 1, (1,)),
        })
    pos = 2
    if not sdhuff:  # no generic AT pixels in huffman mode (7.4.4.1.2)
        at, pos = _read_at(body, pos, 4 if template == 0 else 1)
        at = _check_at(at, template)
    r_at = _GR_NOMINAL_AT
    if sdrefagg and rtemplate == 0:
        r_at, pos = _read_at(body, pos, 2)
    num_ex = int.from_bytes(body[pos : pos + 4], "big")
    num_new = int.from_bytes(body[pos + 4 : pos + 8], "big")
    pos += 8
    if num_new > 10000 or num_ex > 10000:
        raise Jbig2Unsupported("implausible symbol counts")
    # symbol IDs span input + new symbols (6.5.8.2.3)
    total = len(input_syms) + num_new
    codelen = _codelen(total)
    if sdhuff:
        br = _BitReader(body[pos:])
        # the nested aggregate region's tables are fixed (6.5.8.2.1)
        tabs.update(EX=std_table(1), DT=std_table(11), FS=std_table(6),
                    DS=std_table(8), RSIZE=std_table(1))
        tabs.update(dict.fromkeys(("RDW", "RDH", "RDX", "RDY"), std_table(15)))
        # IDs are codelen raw bits; an empty refinement segment is an error
        src = _HuffmanFields(br, tabs, partial(br.read, codelen),
                             log_strips=0, rtemplate=rtemplate, r_at=r_at,
                             min_size=1)
    else:
        src = _ArithFields(body[pos:], codelen, rtemplate, r_at)
        gb_cx = [[0, 0] for _ in range(_CTX_SIZE[template])]
    syms = list(input_syms)  # input + new so far: the refinement pool
    hcheight = 0
    budget = max_pixels
    while len(syms) < total:
        dh = src.DH()
        if dh is OOB:
            raise Jbig2Error("OOB height delta")
        hcheight += dh
        if hcheight <= 0 or hcheight > 10000:
            raise Jbig2Error(f"bad symbol height {hcheight}")
        symwidth = 0
        widths = []  # huffman: the class's collective bitmap follows it
        while True:
            dw = src.DW()
            if dw is OOB:
                break  # end of height class
            symwidth += dw
            if symwidth <= 0 or symwidth > 10000:
                raise Jbig2Error(f"bad symbol width {symwidth}")
            budget -= symwidth * hcheight
            if budget < 0:
                raise Jbig2Unsupported("symbol dict exceeds max_pixels")
            if sdrefagg:
                nrefs = src.AGGINST()
                if nrefs is OOB or not 1 <= nrefs <= 10000:
                    raise Jbig2Error("bad REFAGGNINST")
                if nrefs == 1:
                    rid = src.ID()
                    rdx = src.RDX()
                    rdy = src.RDY()
                    if OOB in (rdx, rdy):
                        raise Jbig2Error("OOB refinement offset")
                    if rid >= len(syms):
                        raise Jbig2Error(f"refinement symbol id {rid}")
                    sym = src.refine(syms[rid], symwidth, hcheight, rdx, rdy)
                else:
                    sym = [[0] * symwidth for _ in range(hcheight)]
                    _place_instances(src, sym, nrefs, syms, 1, 1, 0, 0, 0, 1)
                syms.append(sym)
            elif sdhuff:
                widths.append(symwidth)
            else:
                syms.append(_decode_generic_into(
                    src.mq, gb_cx, symwidth, hcheight, template, at, False
                ))
            if len(syms) + len(widths) > total:
                raise Jbig2Error("too many symbols in height classes")
        if widths:
            bmsize = src.BMSIZE()
            if bmsize is OOB or bmsize < 0:
                raise Jbig2Error("bad BMSIZE")
            totwidth = sum(widths)
            if bmsize == 0:
                raw = br.read_bytes((totwidth + 7) // 8 * hcheight)
                coll = _unpack_rows(raw, totwidth, hcheight)
            else:
                coll = _mmr_bitmap(br.read_bytes(bmsize), totwidth, hcheight)
            x0 = 0
            for w in widths:
                syms.append([row[x0 : x0 + w] for row in coll])
                x0 += w
    # export flags over input + new symbols (T.88 6.5.10)
    exported: list = []
    cur_flag = 0
    idx = 0
    while idx < len(syms) and len(exported) <= num_ex:
        run = src.EX()
        if run is OOB or run < 0:
            raise Jbig2Error("bad export run")
        if cur_flag:
            exported.extend(syms[idx : idx + run])
        idx += run
        cur_flag ^= 1
    if len(exported) != num_ex:
        raise Jbig2Error(
            f"exported {len(exported)} symbols, header says {num_ex}"
        )
    return exported


# --- text region (T.88 6.4) ---------------------------------------------------


def decode_text_region(
    body: bytes, syms: list, max_pixels: int = 1 << 22,
    tables: list | None = None,
) -> tuple[dict, list]:
    """Text-region segment body + symbol list -> (region info, bitmap)."""
    info = _parse_region_info(body)
    if info["w"] * info["h"] > max_pixels or not info["w"] or not info["h"]:
        raise Jbig2Unsupported("text region exceeds max_pixels")
    flags = int.from_bytes(body[17:19], "big")
    sbhuff = flags & 1
    refine = (flags >> 1) & 1
    log_strips = (flags >> 2) & 3
    ref_corner = (flags >> 4) & 3  # 0 BL, 1 TL, 2 BR, 3 TR
    transposed = (flags >> 6) & 1
    comb_op = (flags >> 7) & 3
    def_pixel = (flags >> 9) & 1
    ds_offset = (flags >> 10) & 0x1F
    if ds_offset > 15:
        ds_offset -= 32  # signed 5-bit
    rtemplate = (flags >> 15) & 1
    pos = 19
    if sbhuff:
        hf = int.from_bytes(body[19:21], "big")
        pos = 21
        # custom tables are consumed in FS, DS, DT, RDW, RDH, RDX, RDY,
        # RSIZE order (7.4.3.1.6)
        selectors = {
            "FS": (hf & 3, (6, 7, 8)),
            "DS": ((hf >> 2) & 3, (8, 9, 10)),
            "DT": ((hf >> 4) & 3, (11, 12, 13)),
        }
        if refine:
            for i, name in enumerate(("RDW", "RDH", "RDX", "RDY")):
                selectors[name] = ((hf >> (6 + 2 * i)) & 3, (14, 15, None))
            selectors["RSIZE"] = ((hf >> 14) & 1, (1,))
        tabs = _pick_tables(tables or [], selectors)
    r_at = _GR_NOMINAL_AT
    if refine and rtemplate == 0:
        r_at, pos = _read_at(body, pos, 2)
    num_instances = int.from_bytes(body[pos : pos + 4], "big")
    pos += 4
    if num_instances > 100000:
        raise Jbig2Unsupported("implausible instance count")
    if not syms:
        raise Jbig2Error("text region with no symbols")
    if sbhuff:
        br = _BitReader(body[pos:])
        symtab = _symbol_id_table(br, len(syms))
        src = _HuffmanFields(br, tabs, partial(symtab.decode, br),
                             log_strips=log_strips, rtemplate=rtemplate,
                             r_at=r_at, min_size=0)
    else:
        src = _ArithFields(body[pos:], _codelen(len(syms)), rtemplate, r_at)
    bitmap = [[def_pixel] * info["w"] for _ in range(info["h"])]
    _place_instances(src, bitmap, num_instances, syms, 1 << log_strips,
                     ref_corner, transposed, comb_op, ds_offset, refine)
    return info, bitmap


def _place_instances(src, bitmap, ninst, syms, strips, ref_corner,
                     transposed, comb_op, ds_offset, refine) -> None:
    """Decode ninst symbol instances from src and compose each into
    bitmap (T.88 6.4.5). A REFAGGNINST > 1 aggregate symbol calls this
    with the fixed parameters of 6.5.8.2.1: SBSTRIPS 1, TL corner, not
    transposed, OR, DSOFFSET 0, REFINE 1, on a 0-filled bitmap."""
    stript = src.DT()
    if stript is OOB:
        raise Jbig2Error("OOB strip T")
    stript = -stript * strips
    firsts = 0
    placed = 0
    while placed < ninst:
        dt = src.DT()
        if dt is OOB:
            raise Jbig2Error("OOB DT")
        stript += dt * strips
        dfs = src.FS()
        if dfs is OOB:
            raise Jbig2Error("OOB first S")
        firsts += dfs
        curs = firsts
        first = True
        while True:
            if not first:
                ids = src.DS()
                if ids is OOB:
                    break  # end of strip
                curs += ids + ds_offset
            first = False
            curt = 0 if strips == 1 else src.IT()
            if curt is OOB:
                raise Jbig2Error("OOB CURT")
            tt = stript + curt
            sid = src.ID()
            if sid is OOB or sid >= len(syms):
                raise Jbig2Error(f"symbol id {sid} out of range")
            sym = syms[sid]
            if refine and src.RI():
                # 6.4.11: instance is a refinement of the symbol
                rdw = src.RDW()
                rdh = src.RDH()
                rdx = src.RDX()
                rdy = src.RDY()
                if OOB in (rdw, rdh, rdx, rdy):
                    raise Jbig2Error("OOB refinement delta")
                nw = (len(sym[0]) if sym else 0) + rdw
                nh = len(sym) + rdh
                if not (0 < nw <= 10000 and 0 < nh <= 10000):
                    raise Jbig2Error("bad refined symbol dims")
                sym = src.refine(sym, nw, nh, (rdw >> 1) + rdx,
                                 (rdh >> 1) + rdy)
            sh = len(sym)
            sw = len(sym[0]) if sh else 0
            if not transposed:
                # T.88 6.4.5 3(c)(x): S is the left edge, T per corner
                ty = tt if ref_corner in (1, 3) else tt - sh + 1
                _compose(bitmap, sym, curs, ty, comb_op)
                curs += sw - 1
            else:
                tx = tt if ref_corner in (0, 1) else tt - sw + 1
                _compose(bitmap, sym, tx, curs, comb_op)
                curs += sh - 1
            placed += 1
            if placed > ninst:
                raise Jbig2Error("text instance overflow")
        # the strip ends only on the IDS OOB, which is always consumed:
        # an aggregate's dictionary stream continues after it


# --- generic refinement decoding (T.88 §6.3) ----------------------------------
#
# Context pixel order (coding-bitmap pixels first, then reference-bitmap
# pixels around the dx/dy-shifted position, then the AT pixels for
# template 0) follows the spec figures as implemented by the public
# readers; the fixture encoder shares _gr_context so both sides agree
# bit-for-bit. Nominal AT: A1 = (-1, -1) on the coding bitmap, A2 =
# (-1, -1) on the reference.

_GR_CODING = {
    0: ((0, -1), (1, -1), (-1, 0)),
    1: ((-1, -1), (0, -1), (1, -1), (-1, 0)),
}
_GR_REFERENCE = {
    0: ((0, -1), (1, -1), (-1, 0), (0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)),
    1: ((0, -1), (-1, 0), (0, 0), (1, 0), (0, 1), (1, 1)),
}
_GR_CTX_SIZE = {0: 1 << 13, 1: 1 << 10}
_GR_NOMINAL_AT = ((-1, -1), (-1, -1))
# TPGRON pseudo-pixel context per template (6.3.5.6)
_GR_TPGRON_CTX = {0: 0x0020, 1: 0x0008}


def _gr_context(img, ref, x, y, w, h, rw, rh, dx, dy, template, at):
    """Context label for refinement pixel (x, y). img is the partially
    decoded current bitmap; ref the reference; out-of-bounds reads 0."""

    def cur(xx, yy):
        if 0 <= xx < w and 0 <= yy < h:
            return img[yy][xx]
        return 0

    def rp(xx, yy):
        xx -= dx
        yy -= dy
        if 0 <= xx < rw and 0 <= yy < rh:
            return ref[yy][xx]
        return 0

    ctx = 0
    for ox, oy in _GR_CODING[template]:
        ctx = (ctx << 1) | cur(x + ox, y + oy)
    if template == 0:
        ctx = (ctx << 1) | cur(x + at[0][0], y + at[0][1])
    for ox, oy in _GR_REFERENCE[template]:
        ctx = (ctx << 1) | rp(x + ox, y + oy)
    if template == 0:
        ctx = (ctx << 1) | rp(x + at[1][0], y + at[1][1])
    return ctx


def _gr_typical(ref, x, y, rw, rh, dx, dy):
    """-> 0/1 if the 3x3 reference neighborhood is uniform, else None."""
    first = None
    for oy in (-1, 0, 1):
        for ox in (-1, 0, 1):
            xx, yy = x + ox - dx, y + oy - dy
            v = ref[yy][xx] if 0 <= xx < rw and 0 <= yy < rh else 0
            if first is None:
                first = v
            elif v != first:
                return None
    return first


def decode_refinement(
    mq: MQDecoder, cx: list, w: int, h: int, ref: list,
    dx: int, dy: int, template: int = 0,
    at=_GR_NOMINAL_AT, tpgron: bool = False,
) -> list:
    """-> rows of 0/1: the refined bitmap (6.3.5.6 decoding procedure)."""
    if template not in (0, 1):
        raise Jbig2Error(f"refinement template {template}")
    rh = len(ref)
    rw = len(ref[0]) if rh else 0
    img = [[0] * w for _ in range(h)]
    ltp = 0
    for y in range(h):
        if tpgron:
            ltp ^= mq.decode(cx[_GR_TPGRON_CTX[template]])
        for x in range(w):
            if ltp:
                t = _gr_typical(ref, x, y, rw, rh, dx, dy)
                if t is not None:
                    img[y][x] = t
                    continue
            ctx = _gr_context(
                img, ref, x, y, w, h, rw, rh, dx, dy, template, at
            )
            img[y][x] = mq.decode(cx[ctx])
    return img


def encode_refinement(
    enc: MQEncoder, cx: list, bitmap: list, ref: list,
    dx: int, dy: int, template: int = 0, at=_GR_NOMINAL_AT,
) -> None:
    """Fixture-side mirror of decode_refinement (TPGRON=0 form)."""
    h = len(bitmap)
    w = len(bitmap[0]) if h else 0
    rh = len(ref)
    rw = len(ref[0]) if rh else 0
    img = [[0] * w for _ in range(h)]
    for y in range(h):
        for x in range(w):
            ctx = _gr_context(
                img, ref, x, y, w, h, rw, rh, dx, dy, template, at
            )
            enc.encode(cx[ctx], bitmap[y][x])
            img[y][x] = bitmap[y][x]


# --- pattern dictionaries + halftone regions (T.88 §6.7 / §6.6) ---------------


def decode_pattern_dict(body: bytes, max_pixels: int) -> list:
    """Pattern-dictionary segment body -> list of HDPW x HDPH patterns.
    Patterns arrive as ONE wide generic region (collective bitmap) with
    A1 = (-HDPW, 0), split at HDPW strides (6.7.5)."""
    flags = body[0]
    hdmmr = flags & 1
    template = (flags >> 1) & 3
    hdpw, hdph = body[1], body[2]
    graymax = int.from_bytes(body[3:7], "big")
    if not hdpw or not hdph or graymax > 255:
        raise Jbig2Error("bad pattern dict header")
    n = graymax + 1
    cw = n * hdpw
    if cw * hdph > max_pixels:
        raise Jbig2Unsupported("pattern dict exceeds max_pixels")
    if hdmmr:
        coll = _mmr_bitmap(body[7:], cw, hdph)
    else:
        if hdpw > 127:
            raise Jbig2Unsupported("pattern wider than 127 (collective AT)")
        at = [(-hdpw, 0)]  # A1 = (-HDPW, 0)
        nominal = _NOMINAL_AT[template]
        at += list(nominal[1:]) if template == 0 else []
        coll = decode_generic_region(
            body[7:], cw, hdph, template=template, at=tuple(at),
            tpgdon=False, max_pixels=max_pixels,
        )
    return [
        [row[i * hdpw : (i + 1) * hdpw] for row in coll] for i in range(n)
    ]


def _gray_values(planes, w: int, h: int) -> list:
    """Annex C.5 gray-coded bitplanes, most significant first -> rows of
    int values; bit j of a value is plane_j XOR bit_{j+1}."""
    vals = [[0] * w for _ in range(h)]
    prev = [[0] * w for _ in range(h)]
    for plane in planes:
        for y in range(h):
            vrow, prow, srow = vals[y], prev[y], plane[y]
            for x in range(w):
                b = srow[x] ^ prow[x]
                vrow[x] = (vrow[x] << 1) | b
                prow[x] = b
    return vals


def decode_halftone_region(
    body: bytes, patterns: list, max_pixels: int
) -> tuple[dict, list]:
    """Halftone-region segment body + pattern dict -> (info, bitmap):
    gray-coded grid values (arithmetic bitplanes sharing one coder, or
    MMR as one stacked G4 stream) index patterns drawn at skew-grid
    positions
    (x = (HGX + mg*HRY + ng*HRX) >> 8, y = (HGY + mg*HRX - ng*HRY) >> 8,
    the 8.8 fixed-point grid both public readers implement)."""
    info = _parse_region_info(body)
    if info["w"] * info["h"] > max_pixels or not info["w"] or not info["h"]:
        raise Jbig2Unsupported("halftone region exceeds max_pixels")
    flags = body[17]
    hmmr = flags & 1
    template = (flags >> 1) & 3
    enableskip = (flags >> 3) & 1
    comb_op = (flags >> 4) & 7
    def_pixel = (flags >> 7) & 1
    if not patterns:
        raise Jbig2Error("halftone region with no patterns")
    hgw = int.from_bytes(body[18:22], "big")
    hgh = int.from_bytes(body[22:26], "big")
    hgx = int.from_bytes(body[26:30], "big", signed=True)
    hgy = int.from_bytes(body[30:34], "big", signed=True)
    hrx = int.from_bytes(body[34:36], "big")
    hry = int.from_bytes(body[36:38], "big")
    if hgw * hgh > max_pixels:
        raise Jbig2Unsupported("halftone grid exceeds max_pixels")
    bits = max(1, (len(patterns) - 1).bit_length())
    hpw = len(patterns[0][0])
    hph = len(patterns[0])
    skip = None
    if enableskip and not hmmr:
        # 6.6.5.1: skip grid cells whose pattern lands fully outside
        # the region; their gray pixels are not coded.  In MMR mode the
        # skip bitmap has no effect on decoding (Annex C.5 passes
        # USESKIP only to the arithmetic generic procedure; the G4
        # stream codes every cell), so HENABLESKIP is simply ignored.
        skip = [[0] * hgw for _ in range(hgh)]
        for mg in range(hgh):
            for ng in range(hgw):
                x = (hgx + mg * hry + ng * hrx) >> 8
                y = (hgy + mg * hrx - ng * hry) >> 8
                if (x + hpw <= 0 or x >= info["w"]
                        or y + hph <= 0 or y >= info["h"]):
                    skip[mg][ng] = 1
    if hmmr:
        # C.5 MMR form: all bitplanes as ONE G4 stream of hgh*bits rows
        # (the reference line carries across plane boundaries)
        stacked = _mmr_bitmap(body[38:], hgw, hgh * bits)
        planes = (stacked[k * hgh : (k + 1) * hgh] for k in range(bits))
    else:
        # the arithmetic planes share ONE coder + context
        mq = MQDecoder(body[38:])
        gb_cx = [[0, 0] for _ in range(_CTX_SIZE[template])]
        at = _NOMINAL_AT[template]
        planes = (
            _decode_generic_into(mq, gb_cx, hgw, hgh, template, at, False,
                                 skip=skip)
            for _ in range(bits)
        )
    vals = _gray_values(planes, hgw, hgh)
    bitmap = [[def_pixel] * info["w"] for _ in range(info["h"])]
    pmax = len(patterns) - 1
    for mg in range(hgh):
        for ng in range(hgw):
            x = (hgx + mg * hry + ng * hrx) >> 8
            y = (hgy + mg * hrx - ng * hry) >> 8
            _compose(bitmap, patterns[min(vals[mg][ng], pmax)], x, y, comb_op)
    return info, bitmap


def decode_table_segment(body: bytes) -> HuffTable:
    """Custom Huffman table segment (T.88 B.2): flags byte (HTOOB,
    HTPS-1, HTRS-1), HTLOW/HTHIGH, then MSB-first bit-packed lines —
    finite ranges tiling [HTLOW, HTHIGH), the lower and upper 32-bit
    lines, and the OOB line when HTOOB is set."""
    if len(body) < 9:
        raise Jbig2Error("table segment too short")
    flags = body[0]
    htoob = flags & 1
    htps = ((flags >> 1) & 7) + 1
    htrs = ((flags >> 4) & 7) + 1
    htlow = int.from_bytes(body[1:5], "big", signed=True)
    hthigh = int.from_bytes(body[5:9], "big", signed=True)
    if hthigh <= htlow:
        raise Jbig2Error("empty table range")
    br = _BitReader(body[9:])
    lines = []
    cur = htlow
    while cur < hthigh:
        pl = br.read(htps)
        rl = br.read(htrs)
        if rl > 32:
            raise Jbig2Error("table range length > 32")
        lines.append((pl, rl, cur, _N))
        cur += 1 << rl
        if len(lines) > 4096:
            raise Jbig2Error("implausible table line count")
    lines.append((br.read(htps), 32, htlow - 1, _LOW))
    lines.append((br.read(htps), 32, hthigh, _N))
    if htoob:
        lines.append((br.read(htps), 0, 0, _OOB_K))
    return HuffTable(lines)


def encode_table_segment(
    lines: list, htoob: bool, htps: int = 4, htrs: int = 6
) -> bytes:
    """Fixture-side counterpart: lines in decode_table_segment's
    in-range order (finite ranges ascending, then lower, upper, oob)."""
    finite = [l for l in lines if l[3] == _N and l[1] < 32]
    lower = [l for l in lines if l[3] == _LOW]
    upper = [l for l in lines if l[3] == _N and l[1] == 32]
    oob = [l for l in lines if l[3] == _OOB_K]
    htlow = finite[0][2]
    hthigh = finite[-1][2] + (1 << finite[-1][1])
    out = bytearray(
        [int(htoob) | ((htps - 1) << 1) | ((htrs - 1) << 4)]
    )
    out += htlow.to_bytes(4, "big", signed=True)
    out += hthigh.to_bytes(4, "big", signed=True)
    bw = _BitWriter()
    for pl, rl, lo, _k in finite:
        bw.write(pl, htps)
        bw.write(rl, htrs)
    bw.write(lower[0][0], htps)
    bw.write(upper[0][0], htps)
    if htoob:
        bw.write(oob[0][0], htps)
    return bytes(out) + bw.flush()
