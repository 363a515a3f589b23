"""Mutation robustness for the r2 decoders: truncations and bit flips of
valid payloads must produce typed, catchable errors (or degraded output)
— never unhandled exceptions or hangs. Mirrors the existing TTF/CFF
mutation-fuzz strategy."""

from __future__ import annotations

import random

import pytest

from delphi_pdf_parser_spark.fixtures import (
    bench_pdf,
    build_warc,
    ccitt_g3_1d_encode,
    ccitt_g4_encode,
    jpeg_encode,
    _ccitt_test_bitmap,
)
from delphi_pdf_parser_spark.htmlcore import extract_main_content
from delphi_pdf_parser_spark.operators.mediadec import (
    MediaDecodeError,
    UnsupportedMediaError,
    decode_image,
    encode_bmp,
)
from delphi_pdf_parser_spark.pdfcore.ccitt import CcittError, ccitt_decode
from delphi_pdf_parser_spark.pdfcore.jpeg import JpegError, jpeg_decode
from delphi_pdf_parser_spark.sources.warc import parse_warc


def _mutations(data: bytes, rng: random.Random, n: int = 40):
    for _ in range(n):
        kind = rng.randrange(3)
        if kind == 0 and len(data) > 1:  # truncate
            yield data[: rng.randrange(1, len(data))]
        elif kind == 1:  # flip a byte
            i = rng.randrange(len(data))
            b = bytearray(data)
            b[i] ^= 1 << rng.randrange(8)
            yield bytes(b)
        else:  # splice random garbage
            i = rng.randrange(len(data))
            yield data[:i] + bytes(rng.randrange(256) for _ in range(8)) + data[i:]


def test_ccitt_mutation_robustness():
    rng = random.Random(1)
    bm = _ccitt_test_bitmap()
    for payload in (ccitt_g4_encode(bm), ccitt_g3_1d_encode(bm)):
        for mut in _mutations(payload, rng):
            try:
                out = ccitt_decode(mut, columns=16, rows=10, k=-1)
                assert len(out) == 2 * 10  # stride*rows, possibly garbage
            except CcittError:
                pass  # typed failure is the contract


def test_jpeg_mutation_robustness():
    rng = random.Random(2)
    px = bytes(rng.randrange(256) for _ in range(24 * 24))
    payload = jpeg_encode(24, 24, 1, px)
    for mut in _mutations(payload, rng):
        try:
            jpeg_decode(mut)
        except JpegError:
            pass  # includes UnsupportedJpegError


def test_bmp_png_pnm_mutation_robustness():
    rng = random.Random(3)
    from delphi_pdf_parser_spark.pdfcore.images import write_png

    gray = bytes(rng.randrange(256) for _ in range(64))
    for payload in (
        encode_bmp(8, 8, 1, gray),
        write_png(8, 8, 1, gray),
        b"P5 8 8 255\n" + gray,
    ):
        for mut in _mutations(payload, rng):
            try:
                decode_image(mut)
            except (MediaDecodeError, UnsupportedMediaError):
                pass


def test_html_never_raises():
    rng = random.Random(4)
    base = (
        b"<html><head><title>t</title></head><body><p>some long enough "
        b"paragraph body text for content classification</p></body></html>"
    )
    for mut in _mutations(base, rng, n=60):
        r = extract_main_content(mut)  # must not raise on any input
        assert isinstance(r["text"], str)
    # pathological nesting / unterminated structures
    extract_main_content(b"<" * 1000)
    extract_main_content(b"<p>" * 500)
    extract_main_content(b"<!--" + b"x" * 100)
    extract_main_content(b"<script>" + b"y" * 100)


def test_warc_mutation_robustness():
    rng = random.Random(5)
    recs = [
        {"url": "https://e.com/a", "payload": b"<html>hello</html>"},
        {"url": "https://e.com/b", "payload": bench_pdf(seed=3, npages=1)},
    ]
    for payload in (build_warc(recs), build_warc(recs, gzip_members=True)):
        for mut in _mutations(payload, rng):
            try:
                out = parse_warc(mut)
                assert isinstance(out, list)
            except Exception as e:
                # gzip/zlib errors are acceptable typed failures; the
                # Spark operator catches them per-file
                import zlib

                assert isinstance(e, (zlib.error, EOFError, ValueError)), e


def test_jbig2_mutation_robustness():
    rng = random.Random(6)
    from delphi_pdf_parser_spark.fixtures import (
        _ccitt_test_bitmap,
        jbig2_embed,
    )
    from delphi_pdf_parser_spark.pdfcore.jbig2 import Jbig2Error, jbig2_decode

    from delphi_pdf_parser_spark.fixtures import (
        _jbig2_text_fixture_args,
        jbig2_embed_refagg_dict,
        jbig2_embed_refagg_dict_huffman,
        jbig2_embed_text,
        jbig2_embed_text_huffman,
        jbig2_embed_text_refine,
    )

    syms, placements, pw, ph = _jbig2_text_fixture_args()
    ref_o = [row + [0] for row in syms[2]]
    ref_o[1][1] ^= 1
    refined = [
        (sid, s, t, ref_o if sid == 2 else None) for sid, s, t in placements
    ]
    base_syms = [[[1, 1], [1, 0]], [[0, 1], [1, 1]]]
    ref_syms = [[[1, 0], [1, 1]], [[1, 1], [1, 1]]]
    plc = [(0, 1, 1), (1, 5, 1), (0, 9, 4)]
    payloads = (
        jbig2_embed(_ccitt_test_bitmap()),
        jbig2_embed_text_huffman(*_jbig2_text_fixture_args()),
        jbig2_embed_text_huffman(
            *_jbig2_text_fixture_args(), collective="mmr"
        ),
        jbig2_embed_text(*_jbig2_text_fixture_args()),
        jbig2_embed_text_refine(syms, refined, pw, ph),
        jbig2_embed_refagg_dict(base_syms, ref_syms, plc, 14, 8),
        jbig2_embed_refagg_dict_huffman(base_syms, ref_syms, plc, 14, 8)[0],
    )
    for payload in payloads:
        for mut in _mutations(payload, rng):
            try:
                jbig2_decode(mut)
            except Jbig2Error:
                pass  # incl. Jbig2Unsupported — the typed contract


def test_gif_frames_mutation_robustness():
    """Animated-GIF frame decode: any mutation either decodes to
    well-formed frames or raises the typed MediaDecodeError — never an
    unhandled exception or runaway allocation."""
    rng = random.Random(5)
    from delphi_pdf_parser_spark.fixtures import gif_encode_animated
    from delphi_pdf_parser_spark.operators.mediadec import decode_gif_frames

    pal = bytes(range(12))
    frames = [[rng.randrange(4) for _ in range(36)] for _ in range(4)]
    payload = gif_encode_animated(6, 6, frames, pal)
    for mut in _mutations(payload, rng):
        try:
            w, h, fs = decode_gif_frames(mut)
            assert 1 <= len(fs) <= 64
            assert all(len(f) == w * h * 3 for f in fs)
        except (MediaDecodeError, UnsupportedMediaError):
            # deliberately NOT IndexError: the typed boundary converts it
            pass
