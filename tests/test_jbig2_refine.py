"""JBIG2 refinement + halftone coverage (T.88 §6.3/§6.6/§6.7): the
fixture encoders mirror the decoder's context models (shared
_gr_context/_gb_context, disjoint coders), so every surface is pinned
by an exact page-bitmap comparison against independently-composed
expectations."""

from __future__ import annotations

import random

from delphi_pdf_parser_spark.fixtures import (
    _jbig2_text_fixture_args,
    jbig2_embed_halftone,
    jbig2_embed_refagg_dict,
    jbig2_embed_refinement,
    jbig2_embed_text_refine,
)
from delphi_pdf_parser_spark.pdfcore.jbig2 import (
    _GR_CTX_SIZE,
    MQDecoder,
    MQEncoder,
    decode_refinement,
    encode_refinement,
    jbig2_decode,
)


def _unpack(w, h, packed):
    stride = (w + 7) // 8
    return [
        [(packed[y * stride + (x >> 3)] >> (7 - (x & 7))) & 1
         for x in range(w)]
        for y in range(h)
    ]


def test_refinement_core_roundtrip():
    rng = random.Random(3)
    for template in (0, 1):
        ref = [[rng.randrange(2) for _ in range(20)] for _ in range(15)]
        bm = [
            [int(ref[min(y, 14)][min(x, 19)] ^ (rng.random() < 0.1))
             for x in range(22)]
            for y in range(16)
        ]
        for dx, dy in ((0, 0), (1, 1), (-1, 0)):
            enc = MQEncoder()
            cx = [[0, 0] for _ in range(_GR_CTX_SIZE[template])]
            encode_refinement(enc, cx, bm, ref, dx, dy, template=template)
            mq = MQDecoder(enc.flush())
            cx = [[0, 0] for _ in range(_GR_CTX_SIZE[template])]
            out = decode_refinement(
                mq, cx, 22, 16, ref, dx, dy, template=template
            )
            assert out == bm, (template, dx, dy)


def test_refinement_region_segment():
    rng = random.Random(8)
    base = [[rng.randrange(2) for _ in range(24)] for _ in range(18)]
    refined = [
        [int(v ^ (rng.random() < 0.08)) for v in row] for row in base
    ]
    w, h, p = jbig2_decode(
        jbig2_embed_refinement(base, refined), invert=False
    )
    assert (w, h) == (24, 18)
    assert _unpack(w, h, p) == refined


def test_text_region_refined_instances():
    syms, placements, pw, ph = _jbig2_text_fixture_args()
    o = syms[2]
    ref_o = [row + [0] for row in o]
    ref_o[1][1] ^= 1
    plc = [
        (sid, s, t, ref_o if sid == 2 else None)
        for sid, s, t in placements
    ]
    w, h, p = jbig2_decode(
        jbig2_embed_text_refine(syms, plc, pw, ph), invert=False
    )
    exp = [[0] * pw for _ in range(ph)]
    for sid, s, t, ref in plc:
        bm = ref if ref is not None else syms[sid]
        for yy, row in enumerate(bm):
            for xx, v in enumerate(row):
                if 0 <= t + yy < ph and 0 <= s + xx < pw:
                    exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_refagg_symbol_dictionary():
    base_syms = [[[1, 1], [1, 0]], [[0, 1], [1, 1]]]
    ref_syms = [[[1, 0], [1, 1]], [[1, 1], [1, 1]]]
    plc = [(0, 1, 1), (1, 5, 1), (0, 9, 4)]
    w, h, p = jbig2_decode(
        jbig2_embed_refagg_dict(base_syms, ref_syms, plc, 14, 8),
        invert=False,
    )
    exp = [[0] * 14 for _ in range(8)]
    for sid, s, t in plc:
        for yy, row in enumerate(ref_syms[sid]):
            for xx, v in enumerate(row):
                exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_halftone_region():
    rng = random.Random(4)
    pats = [
        [[0, 0, 0], [0, 0, 0], [0, 0, 0]],
        [[0, 0, 0], [0, 1, 0], [0, 0, 0]],
        [[1, 0, 1], [0, 1, 0], [1, 0, 1]],
        [[1, 1, 1], [1, 1, 1], [1, 1, 1]],
    ]
    vals = [[rng.randrange(4) for _ in range(5)] for _ in range(4)]
    w, h, p = jbig2_decode(
        jbig2_embed_halftone(vals, pats, 15, 12), invert=False
    )
    exp = [[0] * 15 for _ in range(12)]
    for mg in range(4):
        for ng in range(5):
            pat = pats[vals[mg][ng]]
            for yy in range(3):
                for xx in range(3):
                    exp[mg * 3 + yy][ng * 3 + xx] |= pat[yy][xx]
    assert (w, h) == (15, 12)
    assert _unpack(w, h, p) == exp


def test_refinement_mutation_robustness():
    rng = random.Random(13)
    base = [[rng.randrange(2) for _ in range(16)] for _ in range(10)]
    refined = [
        [int(v ^ (rng.random() < 0.1)) for v in row] for row in base
    ]
    pats = [[[0]], [[1]]]
    vals = [[rng.randrange(2) for _ in range(6)] for _ in range(5)]
    payloads = (
        jbig2_embed_refinement(base, refined),
        jbig2_embed_halftone(vals, pats, 6, 5),
    )
    from delphi_pdf_parser_spark.pdfcore.jbig2 import Jbig2Error

    for payload in payloads:
        for _ in range(40):
            kind = rng.randrange(3)
            if kind == 0 and len(payload) > 1:
                mut = payload[: rng.randrange(1, len(payload))]
            elif kind == 1:
                i = rng.randrange(len(payload))
                b = bytearray(payload)
                b[i] ^= 1 << rng.randrange(8)
                mut = bytes(b)
            else:
                i = rng.randrange(len(payload))
                mut = (
                    payload[:i]
                    + bytes(rng.randrange(256) for _ in range(8))
                    + payload[i:]
                )
            try:
                jbig2_decode(mut)
            except Jbig2Error:
                pass  # typed failure is the contract


def test_huffman_refined_text_region():
    """SBHUFF + REFINE=1: B.14-coded deltas, byte-aligned RSIZE-byte MQ
    refinement segments. Same page bitmap as the independently composed
    expectation; the plain Huffman stream stays identical to the
    arithmetic coding of the same content."""
    from delphi_pdf_parser_spark.fixtures import (
        jbig2_embed_text,
        jbig2_embed_text_huffman,
    )

    syms, placements, pw, ph = _jbig2_text_fixture_args()
    ref = jbig2_decode(jbig2_embed_text(syms, placements, pw, ph),
                       invert=False)
    assert jbig2_decode(
        jbig2_embed_text_huffman(syms, placements, pw, ph), invert=False
    ) == ref
    o = syms[2]
    ref_o = [row + [0] for row in o]
    ref_o[1][1] ^= 1
    plc = [(sid, s, t, ref_o if sid == 2 else None)
           for sid, s, t in placements]
    w, h, p = jbig2_decode(
        jbig2_embed_text_huffman(syms, plc, pw, ph), invert=False
    )
    exp = [[0] * pw for _ in range(ph)]
    for sid, s, t, rf in plc:
        bm = rf if rf is not None else syms[sid]
        for yy, row in enumerate(bm):
            for xx, v in enumerate(row):
                if 0 <= t + yy < ph and 0 <= s + xx < pw:
                    exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_mmr_pattern_dictionary():
    """HDMMR=1 pattern dictionaries decode via the CCITT G4 path and
    produce the identical page the arithmetic collective does."""
    pats = [
        [[0, 0, 0], [0, 0, 0], [0, 0, 0]],
        [[0, 0, 0], [0, 1, 0], [0, 0, 0]],
        [[1, 0, 1], [0, 1, 0], [1, 0, 1]],
        [[1, 1, 1], [1, 1, 1], [1, 1, 1]],
    ]
    rng = random.Random(4)
    vals = [[rng.randrange(4) for _ in range(5)] for _ in range(4)]
    a = jbig2_decode(jbig2_embed_halftone(vals, pats, 15, 12), invert=False)
    b = jbig2_decode(
        jbig2_embed_halftone(vals, pats, 15, 12, pattern_mmr=True),
        invert=False,
    )
    assert a == b


def test_aggregate_symbol_dictionary_refaggninst_gt_1():
    """REFAGGNINST > 1: new symbols are nested text regions composing
    input symbols (with optional per-instance refinement). Also pins the
    strip-terminator rule this surface exposed: the IDS OOB is consumed
    even after the last instance, because the dictionary stream
    continues past the nested region."""
    from delphi_pdf_parser_spark.fixtures import jbig2_embed_agg_dict

    l = [[1, 0], [1, 0], [1, 1]]
    o = [[1, 1, 1], [1, 0, 1], [1, 1, 1]]
    ref_o = [[1, 1, 1], [1, 1, 1], [1, 1, 1]]
    aggs = [
        (6, 3, [(0, 0, 0), (1, 3, 0)]),           # "lo" ligature
        (6, 3, [(0, 0, 0), (1, 3, 0, ref_o)]),    # with a refined 'o'
    ]
    plc = [(0, 1, 1), (1, 9, 1), (0, 2, 6)]
    data, agg_bitmaps = jbig2_embed_agg_dict([l, o], aggs, plc, 18, 11)
    assert agg_bitmaps[0] != agg_bitmaps[1]  # refinement changed pixels
    w, h, p = jbig2_decode(data, invert=False)
    exp = [[0] * 18 for _ in range(11)]
    for sid, s, t in plc:
        for yy, row in enumerate(agg_bitmaps[sid]):
            for xx, v in enumerate(row):
                exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_custom_huffman_table_segments():
    """Type-53 table segments (T.88 B.2): a custom DS table referred by
    an SBHUFF text region (selector 3) decodes to the same page the
    arithmetic and standard-table codings produce; the segment format
    round-trips a standard table with lower/upper/OOB lines exactly."""
    from delphi_pdf_parser_spark.fixtures import (
        jbig2_embed_text,
        jbig2_embed_text_huffman,
    )
    from delphi_pdf_parser_spark.pdfcore.jbig2 import (
        OOB,
        _BitReader,
        _BitWriter,
        _STD_LINES,
        HuffTable,
        decode_table_segment,
        encode_table_segment,
    )

    args = _jbig2_text_fixture_args()
    ref = jbig2_decode(jbig2_embed_text(*args), invert=False)
    assert jbig2_decode(
        jbig2_embed_text_huffman(*args, custom_ds=True), invert=False
    ) == ref

    lines = _STD_LINES[8]
    tab = decode_table_segment(encode_table_segment(lines, htoob=True))
    refc = HuffTable(lines)
    vals = [-15, -3, 0, 4, 21, 99, 646, 1669, 1700, -20]
    bw = _BitWriter()
    for v in vals:
        refc.encode(bw, v)
    refc.encode(bw, OOB)
    br = _BitReader(bw.flush())
    assert [tab.decode(br) for _ in vals] == vals
    assert tab.decode(br) is OOB


def test_mmr_halftone_grayscale():
    """HMMR=1: all gray-code bitplanes as ONE G4 stream of hgh*bits rows
    (reference line carries across plane boundaries). Fully-MMR halftone
    (patterns + grayscale) matches the arithmetic coding."""
    rng = random.Random(4)
    pats = [
        [[0, 0, 0], [0, 0, 0], [0, 0, 0]],
        [[0, 0, 0], [0, 1, 0], [0, 0, 0]],
        [[1, 0, 1], [0, 1, 0], [1, 0, 1]],
        [[1, 1, 1], [1, 1, 1], [1, 1, 1]],
    ]
    vals = [[rng.randrange(4) for _ in range(5)] for _ in range(4)]
    a = jbig2_decode(jbig2_embed_halftone(vals, pats, 15, 12), invert=False)
    b = jbig2_decode(
        jbig2_embed_halftone(vals, pats, 15, 12, gray_mmr=True),
        invert=False,
    )
    c = jbig2_decode(
        jbig2_embed_halftone(
            vals, pats, 15, 12, gray_mmr=True, pattern_mmr=True
        ),
        invert=False,
    )
    assert a == b == c


def test_halftone_skip_bitmap():
    """HENABLESKIP with an offset grid: cells landing outside the region
    are geometry-skipped — their gray pixels are never coded — and the
    page matches both the no-skip coding of the same content and the
    independently composed expectation."""
    rng = random.Random(4)
    pats = [[[0, 0], [0, 0]], [[1, 0], [0, 0]], [[1, 0], [0, 1]],
            [[1, 1], [1, 1]]]
    vals = [[rng.randrange(4) for _ in range(6)] for _ in range(5)]
    gx, gy = -(2 << 8), -(2 << 8)
    w, h, p = jbig2_decode(
        jbig2_embed_halftone(
            vals, pats, 9, 7, grid_x=gx, grid_y=gy, enable_skip=True
        ),
        invert=False,
    )
    exp = [[0] * 9 for _ in range(7)]
    for mg in range(5):
        for ng in range(6):
            x = (gx + ng * (2 << 8)) >> 8
            y = (gy + mg * (2 << 8)) >> 8
            pat = pats[vals[mg][ng]]
            for yy in range(2):
                for xx in range(2):
                    if 0 <= y + yy < 7 and 0 <= x + xx < 9:
                        exp[y + yy][x + xx] |= pat[yy][xx]
    assert _unpack(w, h, p) == exp
    w2, h2, p2 = jbig2_decode(
        jbig2_embed_halftone(vals, pats, 9, 7, grid_x=gx, grid_y=gy),
        invert=False,
    )
    assert _unpack(w2, h2, p2) == exp


def test_huffman_refagg_symbol_dictionary():
    """SDHUFF=1 + SDREFAGG=1 (T.88 6.5.8.2 Huffman side) — the last
    typed fallback in the module. Cross-validated: the Huffman refagg
    stream must decode to the SAME page as the arithmetic refagg stream
    built from identical symbols/placements (REFAGGNINST=1 path:
    fixed-length IDs, B.15 offsets, byte-aligned MQ refinement
    segments)."""
    from delphi_pdf_parser_spark.fixtures import (
        jbig2_embed_refagg_dict_huffman,
    )

    base_syms = [[[1, 1], [1, 0]], [[0, 1], [1, 1]]]
    ref_syms = [[[1, 0], [1, 1]], [[1, 1], [1, 1]]]
    plc = [(0, 1, 1), (1, 5, 1), (0, 9, 4)]
    arith = jbig2_decode(
        jbig2_embed_refagg_dict(base_syms, ref_syms, plc, 14, 8),
        invert=False,
    )
    data, new_bms = jbig2_embed_refagg_dict_huffman(
        base_syms, ref_syms, plc, 14, 8
    )
    assert new_bms[:2] == ref_syms
    huff = jbig2_decode(data, invert=False)
    assert huff == arith
    w, h, p = huff
    exp = [[0] * 14 for _ in range(8)]
    for sid, s, t in plc:
        for yy, row in enumerate(ref_syms[sid]):
            for xx, v in enumerate(row):
                exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_huffman_refagg_aggregate_gt_1():
    """REFAGGNINST > 1 with SDHUFF=1: the aggregate symbol is a nested
    Huffman text region (6.5.8.2.1 — B.6/B.8/B.11 position tables,
    fixed-length symbol IDs, per-instance R bits with byte-aligned MQ
    refinement segments). Pinned against an independently composed
    expectation, with one refined instance inside the aggregate."""
    from delphi_pdf_parser_spark.fixtures import (
        jbig2_embed_refagg_dict_huffman,
    )

    l = [[1, 0], [1, 0], [1, 1]]
    o = [[1, 1, 1], [1, 0, 1], [1, 1, 1]]
    ref_o = [[1, 1, 1], [1, 1, 1], [1, 1, 1]]
    aggs = [
        (6, 3, [(0, 0, 0), (1, 3, 0)]),
        (6, 3, [(0, 0, 0), (1, 3, 0, ref_o)]),
    ]
    plc = [(0, 1, 1), (1, 9, 1), (0, 2, 6)]
    data, new_bms = jbig2_embed_refagg_dict_huffman(
        [l, o], [], plc, 18, 11, agg_specs=aggs
    )
    assert new_bms[0] != new_bms[1]  # the refinement changed pixels
    w, h, p = jbig2_decode(data, invert=False)
    exp = [[0] * 18 for _ in range(11)]
    for sid, s, t in plc:
        for yy, row in enumerate(new_bms[sid]):
            for xx, v in enumerate(row):
                exp[t + yy][s + xx] |= v
    assert _unpack(w, h, p) == exp


def test_halftone_mmr_with_skip_flag():
    """HENABLESKIP=1 combined with HMMR=1: per Annex C.5 the skip
    bitmap has no effect on MMR decoding (the G4 stream codes every
    cell), so the page must equal the plain-MMR page bit for bit."""
    rng = random.Random(7)
    pats = [
        [[0, 0], [0, 0]],
        [[1, 0], [0, 1]],
        [[0, 1], [1, 0]],
        [[1, 1], [1, 1]],
    ]
    vals = [[rng.randrange(4) for _ in range(5)] for _ in range(4)]
    plain = jbig2_decode(
        jbig2_embed_halftone(vals, pats, 10, 8, gray_mmr=True),
        invert=False,
    )
    skipped = jbig2_decode(
        jbig2_embed_halftone(
            vals, pats, 10, 8, gray_mmr=True, enable_skip=True
        ),
        invert=False,
    )
    assert skipped == plain


def test_text_region_sbcombop_3_is_xnor():
    """T.88 7.4.3.1.1: text-region SBCOMBOP 3 is XNOR (jbig2dec's
    Jbig2ComposeOp agrees), not REPLACE."""
    from delphi_pdf_parser_spark.fixtures import jbig2_embed_text
    from delphi_pdf_parser_spark.pdfcore.jbig2 import _parse_segment_header

    syms, placements, pw, ph = _jbig2_text_fixture_args()
    data = bytearray(jbig2_embed_text(syms, placements, pw, ph))
    pos = 0
    while True:
        hdr, body = _parse_segment_header(bytes(data), pos)
        if hdr["type"] == 6:  # the immediate text region
            break
        pos = body + hdr["length"]
    flags = int.from_bytes(data[body + 17 : body + 19], "big") | (3 << 7)
    data[body + 17 : body + 19] = flags.to_bytes(2, "big")
    w, h, p = jbig2_decode(bytes(data), invert=False)
    exp = [[0] * pw for _ in range(ph)]
    for sid, s, t in placements:
        for yy, row in enumerate(syms[sid]):
            for xx, v in enumerate(row):
                exp[t + yy][s + xx] = 1 - (exp[t + yy][s + xx] ^ v)
    assert (w, h) == (pw, ph)
    assert _unpack(w, h, p) == exp
