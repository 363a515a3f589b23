"""Stream decode filters.

Covers the text path of the reference's filter factory
(src/vcl/mypdfstream.pas:280-389): FlateDecode (+ predictors), LZWDecode
(+ predictors, EarlyChange), ASCIIHexDecode, ASCII85Decode,
RunLengthDecode, CCITTFaxDecode (G3/G4 fax, see ccitt.py — the
reference decodes fax on its image path, src/vcl/filt_faxdss.pas), and
the Crypt filter hook. Remaining image-only codecs (DCT/JBIG2/JPX) are
deliberately not transcoded — DCT/JPX payloads ARE interchange files and
pass through raw on the image sink; the text device never needs image
payloads (device hints FZ_IGNORE_IMAGE, src/vcl/dev_textss.pas:395).

Predictor un-filtering (TIFF 2 and PNG 10-15 incl. Paeth) is vectorized
with NumPy per stream (reference: src/vcl/fz_predictss.pas).
"""

from __future__ import annotations

import zlib

import numpy as np

from .lexer import hex_decode


class FilterError(Exception):
    def __init__(self, code: str, msg: str = ""):
        super().__init__(msg or code)
        self.code = code


def flate_decode(data: bytes) -> bytes:
    """zlib inflate, tolerant of trailing garbage and truncation (the
    reference's fz_read_all keeps whatever decoded before an error,
    src/vcl/mypdfstream.pas:626-701)."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(data)
    except zlib.error:
        # retry raw-deflate (some generators omit the zlib header)
        try:
            d = zlib.decompressobj(-15)
            out = d.decompress(data)
        except zlib.error as e:
            raise FilterError("flate", str(e))
    return out


def ahx_decode(data: bytes) -> bytes:
    return hex_decode(data.partition(b">")[0])


def a85_decode(data: bytes) -> bytes:
    out = bytearray()
    word = 0
    count = 0
    i = 0
    n = len(data)
    # skip optional <~ header
    if data[:2] == b"<~":
        i = 2
    while i < n:
        c = data[i]
        i += 1
        if c in b"\x00\t\n\x0c\r ":
            continue
        if c == 0x7E:  # ~
            break
        if c == 0x7A:  # z
            if count != 0:
                raise FilterError("a85", "z inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= c <= 0x75):
            raise FilterError("a85", f"bad char {c}")
        word = word * 85 + (c - 0x21)
        count += 1
        if count == 5:
            out += word.to_bytes(4, "big")
            word = 0
            count = 0
    if count == 1:
        raise FilterError("a85", "partial group of 1")
    if count > 1:
        for _ in range(5 - count):
            word = word * 85 + 84
        out += word.to_bytes(4, "big")[: count - 1]
    return bytes(out)


def rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = data[i]
        i += 1
        if run == 128:
            break
        if run < 128:
            out += data[i : i + run + 1]
            i += run + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - run)
                i += 1
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZW per the reference (src/vcl/filt_lzwdss.pas): 9..12-bit codes,
    CLEAR=256, EOD=257, EarlyChange default 1."""
    MIN_BITS, MAX_BITS = 9, 12
    CLEAR, EOD, FIRST = 256, 257, 258
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    code_bits = MIN_BITS
    next_code = FIRST
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= code_bits:
            nbits -= code_bits
            code = (acc >> nbits) & ((1 << code_bits) - 1)
            if code == EOD:
                return bytes(out)
            if code == CLEAR:
                code_bits = MIN_BITS
                next_code = FIRST
                table = table[:258]
                prev = None
                continue
            if prev is None:
                if code >= len(table):
                    raise FilterError("lzw", "bad first code")
                entry = table[code]
            else:
                if code < len(table):
                    entry = table[code]
                    table.append(prev + entry[:1])
                elif code == len(table):
                    entry = prev + prev[:1]
                    table.append(entry)
                else:
                    raise FilterError("lzw", "code out of range")
                next_code += 1
            out += entry
            prev = entry
            if next_code + early_change >= (1 << code_bits) and code_bits < MAX_BITS:
                code_bits += 1
    return bytes(out)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def predict(data: bytes, predictor: int, colors: int, bpc: int, columns: int) -> bytes:
    """Undo TIFF-2 / PNG-10..15 predictors (src/vcl/fz_predictss.pas)."""
    if predictor <= 1:
        return data
    stride = (bpc * colors * columns + 7) // 8
    if predictor == 2:
        return _predict_tiff(data, colors, bpc, columns, stride)
    # PNG: each row is 1 tag byte + stride bytes
    rowlen = stride + 1
    nrows = len(data) // rowlen
    arr = np.frombuffer(data[: nrows * rowlen], dtype=np.uint8).reshape(nrows, rowlen)
    tags = arr[:, 0]
    rows = arr[:, 1:].copy()
    bpp = max(1, (bpc * colors + 7) // 8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(nrows):
        tag = tags[r]
        row = rows[r]
        if tag == 0:
            pass
        elif tag == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif tag == 2:  # Up
            rows[r] = (row.astype(np.int16) + prev.astype(np.int16)).astype(np.uint8)
            row = rows[r]
        elif tag == 3:  # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                pa = abs(b - c)
                pb = abs(a - c)
                pc = abs(a + b - 2 * c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                row[i] = (int(row[i]) + pred) & 0xFF
        prev = rows[r]
    return rows.tobytes()


def _predict_tiff(data: bytes, colors: int, bpc: int, columns: int, stride: int) -> bytes:
    if bpc == 8:
        nrows = len(data) // stride
        arr = (
            np.frombuffer(data[: nrows * stride], dtype=np.uint8)
            .reshape(nrows, columns, colors)
            .astype(np.uint16)
        )
        np.cumsum(arr, axis=1, out=arr)
        return (arr & 0xFF).astype(np.uint8).tobytes()
    # sub-byte components: scalar fallback (rare in the text path)
    out = bytearray(data)
    mask = (1 << bpc) - 1

    def getc(buf, idx):
        bit = idx * bpc
        byi, sh = bit // 8, 8 - bpc - (bit % 8)
        return (buf[byi] >> sh) & mask

    def putc(buf, idx, v):
        bit = idx * bpc
        byi, sh = bit // 8, 8 - bpc - (bit % 8)
        buf[byi] = (buf[byi] & ~(mask << sh)) | ((v & mask) << sh)

    nrows = len(data) // stride
    for r in range(nrows):
        base = r * stride
        row = out[base : base + stride]
        left = [0] * colors
        for i in range(columns):
            for k in range(colors):
                a = getc(row, i * colors + k)
                c = (a + left[k]) & mask
                putc(row, i * colors + k, c)
                left[k] = c
        out[base : base + stride] = row
    return bytes(out)


# filter-name normalization (abbreviations per the reference factory)
_FILTER_ALIASES = {
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "Fl": "FlateDecode",
    "LZW": "LZWDecode",
    "RL": "RunLengthDecode",
    "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}

_IMAGE_ONLY = {"DCTDecode", "JPXDecode"}


def apply_filter(data: bytes, name: str, parms: dict | None) -> bytes:
    """Apply one named decode filter. Raises FilterError with a stable code
    for unsupported (image-only) codecs."""
    name = _FILTER_ALIASES.get(name, name)
    parms = parms or {}
    if name == "FlateDecode":
        out = flate_decode(data)
    elif name == "LZWDecode":
        ec = parms.get("EarlyChange", 1)
        out = lzw_decode(data, 1 if ec is None else int(ec))
    elif name == "ASCIIHexDecode":
        out = ahx_decode(data)
    elif name == "ASCII85Decode":
        out = a85_decode(data)
    elif name == "RunLengthDecode":
        out = rl_decode(data)
    elif name == "CCITTFaxDecode":
        from .ccitt import CcittError, ccitt_decode

        try:
            out = ccitt_decode(
                data,
                columns=int(parms.get("Columns", 1728) or 1728),
                rows=int(parms.get("Rows", 0) or 0),
                k=int(parms.get("K", 0) or 0),
                encoded_byte_align=bool(parms.get("EncodedByteAlign", False)),
                black_is_1=bool(parms.get("BlackIs1", False)),
            )
        except CcittError as e:
            raise FilterError(f"ccitt_decode_failed:{e}")
    elif name == "JBIG2Decode":
        from .jbig2 import Jbig2Error, jbig2_decode

        try:
            _w, _h, out = jbig2_decode(
                data, globals_data=parms.get("_globals_bytes", b"") or b""
            )
        except Jbig2Error as e:
            raise FilterError(f"jbig2_decode_failed:{e}")
    elif name in _IMAGE_ONLY:
        raise FilterError(f"unsupported_filter:{name}")
    elif name == "Crypt":
        return data  # handled by the caller (decryption layer)
    else:
        raise FilterError(f"unknown_filter:{name}")
    pred = parms.get("Predictor", 1)
    if isinstance(pred, (int, float)) and int(pred) > 1 and name in (
        "FlateDecode",
        "LZWDecode",
    ):
        out = predict(
            out,
            int(pred),
            int(parms.get("Colors", 1) or 1),
            int(parms.get("BitsPerComponent", 8) or 8),
            int(parms.get("Columns", 1) or 1),
        )
    return out
