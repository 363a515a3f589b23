"""From-scratch image decoders for the multimodal path.

No imaging library exists in this runtime, so the formats a pure-Python
decoder can own are implemented for real: uncompressed BMP (8-bit gray /
24-bit BGR), binary PPM/PGM (P5/P6), full PNG (gray/RGB/alpha/palette
with tRNS, bit depths 1/2/4/8/16, Adam7 interlace — zlib inflate +
per-row filter undo via the vectorized PNG un-predictor from
pdfcore.filters), GIF87a/89a (LSB-first LZW, interlacing, GCE
transparency, first frame of animations), baseline + progressive (SOF2)
JPEG (pdfcore/jpeg.py), JPEG 2000 (pdfcore/jpx.py, 5/3 + 9/7), and
lossless WebP/VP8L (webp.py). decode_audio reads PCM RIFF/WAVE.
Still-unsupported formats (lossy-VP8 WebP, arithmetic-coded JPEG, ...)
raise UnsupportedMediaError and surface as a decode-status column, the
same contract the PDF pipeline uses for its failure codes.
"""

from __future__ import annotations

import struct
import zlib
from itertools import islice


class UnsupportedMediaError(Exception):
    pass


class MediaDecodeError(Exception):
    pass


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """payload -> (width, height, n_components, pixels).

    pixels are row-major, 8 bits per component, no padding.
    Raises UnsupportedMediaError for formats this runtime can't decode,
    MediaDecodeError for corrupt payloads of a supported format — typed
    boundary: mangled headers never surface bare struct/index errors.
    """
    try:
        return _decode_any(payload)
    except (UnsupportedMediaError, MediaDecodeError):
        raise
    except (IndexError, ValueError, KeyError, struct.error) as e:
        raise MediaDecodeError(f"corrupt: {type(e).__name__}: {e}")


def _decode_any(payload: bytes) -> tuple[int, int, int, bytes]:
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[:2] == b"\xff\xd8":
        from delphi_pdf_parser_spark.pdfcore.jpeg import (
            JpegError,
            UnsupportedJpegError,
            jpeg_decode,
        )

        try:
            return jpeg_decode(payload)
        except UnsupportedJpegError as e:
            raise UnsupportedMediaError(f"jpeg: {e}")
        except JpegError as e:
            raise MediaDecodeError(f"jpeg: {e}")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from delphi_pdf_parser_spark.webp import (
            WebpError,
            WebpUnsupported,
            webp_decode,
        )

        try:
            return webp_decode(payload)
        except WebpUnsupported as e:
            raise UnsupportedMediaError(f"webp: {e}")
        except WebpError as e:
            raise MediaDecodeError(f"webp: {e}")
    if payload[:4] == b"\xff\x4f\xff\x51" or payload[4:8] == b"jP\x20\x20":
        from delphi_pdf_parser_spark.pdfcore.jpx import (
            JpxError,
            JpxUnsupported,
            jpx_decode,
        )

        try:
            return jpx_decode(payload)
        except JpxUnsupported as e:
            raise UnsupportedMediaError(f"jpx: {e}")
        except JpxError as e:
            raise MediaDecodeError(f"jpx: {e}")
    raise UnsupportedMediaError(f"unknown magic {payload[:4]!r}")


def _decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    if len(data) < 54:
        raise MediaDecodeError("bmp: truncated header")
    pix_ofs = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise UnsupportedMediaError(f"bmp: core header {hdr_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0:
        raise UnsupportedMediaError(f"bmp: compression {compression}")
    if bpp not in (8, 24):
        raise UnsupportedMediaError(f"bmp: {bpp} bpp")
    bottom_up = height > 0
    height = abs(height)
    ncomp = 1 if bpp == 8 else 3
    stride = (width * (bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    need = pix_ofs + stride * height
    if len(data) < need:
        raise MediaDecodeError(f"bmp: {len(data)} bytes, need {need}")
    out = bytearray(width * height * ncomp)
    for y in range(height):
        src_y = (height - 1 - y) if bottom_up else y
        row = data[pix_ofs + src_y * stride :][: width * (bpp // 8)]
        if bpp == 8:
            out[y * width : (y + 1) * width] = row
        else:  # BGR -> RGB
            base = y * width * 3
            for x in range(width):
                out[base + 3 * x] = row[3 * x + 2]
                out[base + 3 * x + 1] = row[3 * x + 1]
                out[base + 3 * x + 2] = row[3 * x]
    return width, height, ncomp, bytes(out)


# Adam7 pass grids: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_expand_row(row: bytes, width: int, depth: int) -> list:
    """Sub-byte/8-bit single-channel samples -> per-pixel int list."""
    if depth == 8:
        return list(row[:width])
    per = 8 // depth
    mask = (1 << depth) - 1
    return [
        (row[x // per] >> (8 - depth * (x % per + 1))) & mask
        for x in range(width)
    ]


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    from delphi_pdf_parser_spark.pdfcore.filters import predict

    pos = 8
    width = height = channels = -1
    depth = 8
    ctype = 0
    interlace = 0
    plte = b""
    trns = b""
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            try:
                channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
            except KeyError:
                raise UnsupportedMediaError(f"png: color type {ctype}")
            if depth not in (1, 2, 4, 8, 16):
                raise UnsupportedMediaError(f"png: bit depth {depth}")
            if depth == 16 and ctype == 3:
                raise MediaDecodeError("png: 16-bit palette")
            if depth < 8 and ctype not in (0, 3):
                raise MediaDecodeError(f"png: depth {depth} ctype {ctype}")
        elif tag == b"PLTE":
            plte = body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width < 0 or not idat:
        raise MediaDecodeError("png: missing IHDR/IDAT")
    if width * height > 50_000_000:
        raise MediaDecodeError("png: implausible dimensions")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise MediaDecodeError(f"png: inflate: {e}")

    def unfilter_pass(buf, w, h):
        """-> rows of per-pixel channel tuples for one (sub)image."""
        stride = (depth * channels * w + 7) // 8
        if len(buf) < (stride + 1) * h:
            raise MediaDecodeError("png: short pixel data")
        flat = predict(bytes(buf[: (stride + 1) * h]), 15, channels, depth, w)
        rows = []
        for y in range(h):
            rb = flat[y * stride : (y + 1) * stride]
            if depth == 16:
                # most significant byte (PNG is big-endian)
                px = [
                    tuple(rb[2 * (x * channels + c)] for c in range(channels))
                    for x in range(w)
                ]
            elif channels == 1:
                px = [(v,) for v in _png_expand_row(rb, w, depth)]
            else:
                px = [
                    tuple(rb[x * channels + c] for c in range(channels))
                    for x in range(w)
                ]
            rows.append(px)
        return rows, (stride + 1) * h

    grid = [[None] * width for _ in range(height)]
    if interlace == 1:
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, used = unfilter_pass(raw[off:], pw, ph)
            off += used
            for py in range(ph):
                for px_ in range(pw):
                    grid[y0 + py * dy][x0 + px_ * dx] = rows[py][px_]
    elif interlace == 0:
        rows, _ = unfilter_pass(raw, width, height)
        grid = rows
    else:
        raise MediaDecodeError(f"png: interlace {interlace}")

    maxv = (1 << min(depth, 8)) - 1
    if ctype == 3:
        npal = len(plte) // 3
        out_n = 4 if trns else 3
        out = bytearray(width * height * out_n)
        k = 0
        for row in grid:
            for (idx,) in row:
                if idx < npal:
                    out[k : k + 3] = plte[3 * idx : 3 * idx + 3]
                if out_n == 4:
                    out[k + 3] = trns[idx] if idx < len(trns) else 255
                k += out_n
        return width, height, out_n, bytes(out)
    out = bytearray(width * height * channels)
    k = 0
    for row in grid:
        for px_ in row:
            for v in px_:
                out[k] = (v * 255) // maxv if depth < 8 else v
                k += 1
    return width, height, channels, bytes(out)


def _decode_pnm(data: bytes) -> tuple[int, int, int, bytes]:
    magic = data[:2]
    ncomp = 3 if magic == b"P6" else 1
    # header: magic, whitespace/comments, width, height, maxval, 1 ws
    pos = 2
    vals = []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos] == ord("#"):
            nl = data.find(b"\n", pos)
            pos = nl + 1 if nl >= 0 else len(data)
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        try:
            vals.append(int(data[start:pos]))
        except ValueError:
            raise MediaDecodeError("pnm: bad header token")
    pos += 1  # single whitespace after maxval
    width, height, maxval = vals
    if maxval != 255:
        raise UnsupportedMediaError(f"pnm: maxval {maxval}")
    need = width * height * ncomp
    if len(data) - pos < need:
        raise MediaDecodeError("pnm: short pixel data")
    return width, height, ncomp, data[pos : pos + need]


def encode_bmp(width: int, height: int, ncomp: int, pixels: bytes) -> bytes:
    """Minimal BMP writer (8-bit gray with palette / 24-bit RGB->BGR),
    used by synth_media to manufacture REAL deterministic payloads."""
    if ncomp == 1:
        stride = (width + 3) & ~3
        palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
        pix_ofs = 14 + 40 + len(palette)
        rows = bytearray()
        for y in range(height - 1, -1, -1):  # bottom-up
            row = pixels[y * width : (y + 1) * width]
            rows += row + b"\x00" * (stride - width)
        bpp = 8
        ncolors = 256
    elif ncomp == 3:
        stride = (width * 3 + 3) & ~3
        palette = b""
        pix_ofs = 14 + 40
        rows = bytearray()
        for y in range(height - 1, -1, -1):
            base = y * width * 3
            row = bytearray()
            for x in range(width):
                r, g, b = pixels[base + 3 * x : base + 3 * x + 3]
                row += bytes((b, g, r))
            rows += row + b"\x00" * (stride - width * 3)
        bpp = 24
        ncolors = 0
    else:
        raise ValueError(f"encode_bmp: ncomp {ncomp}")
    total = pix_ofs + len(rows)
    hdr = b"BM" + struct.pack("<IHHI", total, 0, 0, pix_ofs)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(rows), 2835, 2835,
        ncolors, 0,
    )
    return hdr + info + palette + bytes(rows)


def _gif_lzw(data: bytes, min_code: int, npix: int) -> list:
    """GIF-flavor LZW (LSB-first codes, CLEAR/EOI, 12-bit cap)."""
    clear = 1 << min_code
    eoi = clear + 1
    acc = 0
    nbits = 0
    pos = 0
    width = min_code + 1
    dic: list = [(i,) for i in range(clear)] + [None, None]
    prev = None
    out: list = []
    while len(out) < npix:
        while nbits < width:
            if pos >= len(data):
                return out  # truncated: degraded output
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dic = [(i,) for i in range(clear)] + [None, None]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(dic) and dic[code] is not None:
            entry = dic[code]
        elif code == len(dic) and prev is not None:
            entry = prev + (prev[0],)
        else:
            raise MediaDecodeError("gif: bad LZW code")
        out.extend(entry)
        if prev is not None and len(dic) < 4096:
            dic.append(prev + (entry[0],))
            if len(dic) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out[:npix]


def _gif_blocks(data: bytes):
    """The one GIF block walker; callers check the 13-byte header first.
    Yields the logical screen (width, height, background index, global
    color table), then per image (gces, left, top, w, h, color table,
    palette indices in display row order), where gces lists the
    (transparent index or -1, disposal) of each graphic control
    extension since the previous image. Stops at the trailer or at the
    end of the data."""
    sw, sh = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    pos = 13
    gct = b""
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    yield sw, sh, data[11], gct
    gces = []
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # GCE
                packed = data[pos + 1]
                gces.append(
                    (data[pos + 4] if packed & 1 else -1, (packed >> 2) & 7)
                )
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise MediaDecodeError(f"gif: unknown block {b:#x}")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        iflags = data[pos + 9]
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            table = data[pos : pos + 3 * n]
            pos += 3 * n
        if not table:
            raise MediaDecodeError("gif: no color table")
        if w * h > 50_000_000 or not w or not h:
            raise MediaDecodeError("gif: implausible dimensions")
        min_code = data[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise MediaDecodeError(f"gif: LZW min code {min_code}")
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            n = data[pos]
            lzw += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        idx = _gif_lzw(bytes(lzw), min_code, w * h)
        idx += [0] * (w * h - len(idx))
        if iflags & 0x40:  # interlaced row order
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            rows = [idx[y * w : (y + 1) * w] for y in range(h)]
            grid = [None] * h
            for src_y, dst_y in enumerate(order):
                grid[dst_y] = rows[src_y]
            idx = [v for row in grid for v in row]
        yield gces, left, top, w, h, table, idx
        gces = []


def _decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """First frame of a GIF87a/GIF89a: global/local color tables,
    interlacing, GCE transparency -> RGB(A)."""
    if len(data) < 13:
        raise MediaDecodeError("gif: truncated header")
    blocks = _gif_blocks(data)
    next(blocks)
    for gces, _left, _top, w, h, table, idx in blocks:
        transparent = -1
        for t, _disposal in gces:  # the last GCE with a transparent index
            if t >= 0:
                transparent = t
        out_n = 4 if transparent >= 0 else 3
        npal = len(table) // 3
        out = bytearray(w * h * out_n)
        k = 0
        for i in idx:
            if i < npal:
                out[k : k + 3] = table[3 * i : 3 * i + 3]
            if out_n == 4:
                out[k + 3] = 0 if i == transparent else 255
            k += out_n
        return w, h, out_n, bytes(out)
    raise MediaDecodeError("gif: no image descriptor")


def decode_gif_frames(
    data: bytes, max_frames: int = 64
) -> tuple[int, int, list]:
    """Animated GIF89a -> (canvas_w, canvas_h, [RGB frame bytes]):
    every frame composited onto the logical-screen canvas (GCE
    transparency leaves prior content; disposal 2 restores the
    background rectangle, 3 restores the pre-frame canvas snapshot,
    0/1 leave the frame in place). This is the
    'video' decode path for the frame-sampling operator — GIF is the
    one animation container a from-scratch pure-Python decoder can own
    in this runtime. Same typed boundary as decode_image: corrupt
    payloads raise MediaDecodeError, never bare struct/index errors."""
    try:
        return _decode_gif_frames(data, max_frames)
    except MediaDecodeError:
        raise
    except (IndexError, ValueError, KeyError, struct.error) as e:
        raise MediaDecodeError(f"corrupt: {type(e).__name__}: {e}")


def _decode_gif_frames(data: bytes, max_frames: int) -> tuple[int, int, list]:
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("gif: bad header")
    blocks = _gif_blocks(data)
    sw, sh, bg_index, gct = next(blocks)
    if sw * sh > 50_000_000 or not sw or not sh:
        raise MediaDecodeError("gif: implausible dimensions")
    bg_rgb = (
        gct[3 * bg_index : 3 * bg_index + 3]
        if gct and bg_index < len(gct) // 3
        else b"\x00\x00\x00"
    )
    canvas = bytearray(bg_rgb * (sw * sh))
    frames: list = []
    for gces, left, top, w, h, table, idx in islice(blocks, max_frames):
        # the last GCE before the image applies to it alone
        transparent, disposal = gces[-1] if gces else (-1, 0)
        npal = len(table) // 3
        # disposal 3 = restore-to-previous: snapshot before compositing
        prev_canvas = bytes(canvas) if disposal == 3 else None
        for y in range(h):
            cy = top + y
            if cy >= sh:
                break
            for x in range(w):
                cx = left + x
                if cx >= sw:
                    continue
                i = idx[y * w + x]
                if i == transparent or i >= npal:
                    continue
                k = (cy * sw + cx) * 3
                canvas[k : k + 3] = table[3 * i : 3 * i + 3]
        frames.append(bytes(canvas))
        if disposal == 2:  # restore background rectangle
            for y in range(h):
                cy = top + y
                if cy >= sh:
                    break
                for x in range(w):
                    cx = left + x
                    if cx >= sw:
                        continue
                    k = (cy * sw + cx) * 3
                    canvas[k : k + 3] = bg_rgb
        elif disposal == 3 and prev_canvas is not None:
            canvas = bytearray(prev_canvas)
    if not frames:
        raise MediaDecodeError("gif: no image descriptor")
    return sw, sh, frames


def decode_audio(payload: bytes) -> tuple[int, int, int, bytes]:
    """RIFF/WAVE PCM -> (sample_rate, n_channels, bits_per_sample,
    sample bytes). Only integer PCM (format 1); typed errors otherwise.
    The multimodal operator derives duration / mean-amplitude features
    from this the way decode_image feeds pixel features."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise UnsupportedMediaError(f"audio magic {payload[:4]!r}")
        pos = 12
        fmt = None
        data = None
        n = len(payload)
        while pos + 8 <= n:
            tag = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = payload[pos + 8 : pos + 8 + size]
            if tag == b"fmt ":
                fmt = body
            elif tag == b"data":
                data = body
            pos += 8 + size + (size & 1)
        if fmt is None or data is None:
            raise MediaDecodeError("wav: missing fmt/data chunk")
        audio_fmt, channels, rate = struct.unpack_from("<HHI", fmt, 0)
        bits = struct.unpack_from("<H", fmt, 14)[0]
        if audio_fmt != 1:
            raise UnsupportedMediaError(f"wav: format {audio_fmt}")
        if bits not in (8, 16) or channels not in (1, 2) or not rate:
            raise MediaDecodeError(
                f"wav: bits {bits} channels {channels} rate {rate}"
            )
        frame = channels * bits // 8
        usable = (len(data) // frame) * frame
        return rate, channels, bits, data[:usable]
    except (UnsupportedMediaError, MediaDecodeError):
        raise
    except (IndexError, ValueError, struct.error) as e:
        raise MediaDecodeError(f"wav corrupt: {type(e).__name__}: {e}")


def encode_wav(
    rate: int, channels: int, bits: int, samples: bytes
) -> bytes:
    """Minimal PCM WAV writer (fixture counterpart of decode_audio)."""
    frame = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * frame, frame, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
