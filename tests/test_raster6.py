"""Round-6 raster fidelity: closed-subpath strokes (`re`/`h`), stroke
state (dash / caps / joins), tiling + shading patterns, /SMask soft
masks, transparency groups with constant alpha, mesh shadings 4/5, and
CFF flex operators. All pixel pins hand-computed (device row = 792 -
user_y for the unrotated 612x792 page)."""

import struct

import numpy as np
import pytest

from delphi_pdf_parser_spark.fixtures import PdfBuilder
from delphi_pdf_parser_spark.pdfcore.rasterdev import render_page


def page_doc(content: bytes, resources: str):
    """catalog(1) pages(2) page(3) content(4); objects 5+ free."""
    b = PdfBuilder()
    cat = b.add("<< /Type /Catalog /Pages 2 0 R >>")
    b.add("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Resources {resources} /Contents 4 0 R >>"
    )
    b.add(f"<< /Length {len(content)} >>", content)
    return b, cat


def render(content: bytes, resources: str = "<< >>", extra=None):
    b, cat = page_doc(content, resources)
    if extra:
        extra(b)
    w, h, pix, fails = render_page(b.build_classic(cat), 0, 1.0)
    return pix, fails


BLACK, WHITE = (0, 0, 0), (255, 255, 255)


def px(pix, ux, uy):
    """Pixel at user-space point (PDF y-up) -> tuple rgb."""
    return tuple(pix[792 - uy, ux])


# --- closed-subpath strokes (ADVICE r5 #1) ---------------------------------

def test_re_stroke_paints_all_four_edges():
    """PDF 32000 8.5.2.1: `re` is a COMPLETE closed subpath, so
    `re S` strokes 4 edges — including the left (closing) edge."""
    pix, fails = render(b"0 0 0 RG 4 w 100 100 200 150 re S")
    assert fails == {}
    assert px(pix, 100, 175) == BLACK  # left edge (the one that was lost)
    assert px(pix, 300, 175) == BLACK  # right edge
    assert px(pix, 200, 100) == BLACK  # bottom edge
    assert px(pix, 200, 250) == BLACK  # top edge
    assert px(pix, 200, 175) == WHITE  # interior
    assert px(pix, 90, 175) == WHITE  # outside


def test_h_closed_subpath_strokes_closing_edge():
    """m/l/l + h + S: the h-closed triangle strokes its closing edge."""
    pix, fails = render(
        b"0 0 0 RG 4 w 100 400 m 200 400 l 100 500 l h S"
    )
    assert fails == {}
    # closing edge runs from (100,500) back to (100,400): x=100 vertical
    assert px(pix, 100, 450) == BLACK
    assert px(pix, 130, 430) == WHITE  # interior stays empty


# --- dash / caps / joins ----------------------------------------------------

def test_dash_pattern_with_phase():
    pix, fails = render(b"[10 10] 0 d 8 w 100 400 m 300 400 l S")
    assert fails == {}
    assert px(pix, 104, 400) == BLACK  # first ON run [100,110)
    assert px(pix, 115, 400) == WHITE  # OFF run [110,120)
    assert px(pix, 125, 400) == BLACK  # second ON run [120,130)
    # phase 10 starts mid-cycle: first run is OFF
    pix2, _ = render(b"[10 10] 10 d 8 w 100 380 m 300 380 l S")
    assert px(pix2, 104, 380) == WHITE
    assert px(pix2, 115, 380) == BLACK


def test_line_caps():
    # butt (default): nothing past the endpoint
    pix, _ = render(b"10 w 100 500 m 200 500 l S")
    assert px(pix, 202, 500) == WHITE
    # round (J 1): semicircle radius 5 past x=200
    pix, _ = render(b"1 J 10 w 100 500 m 200 500 l S")
    assert px(pix, 202, 500) == BLACK
    assert px(pix, 207, 500) == WHITE  # past the radius
    # projecting square (J 2): extends half-width past the endpoint
    pix, _ = render(b"2 J 10 w 100 500 m 200 500 l S")
    assert px(pix, 204, 500) == BLACK
    assert px(pix, 207, 500) == WHITE


def test_line_joins():
    L = b"10 w 100 600 m 150 600 l 150 650 l S"
    # miter (default): the outer corner square [150..155]x[595..600] fills
    pix, _ = render(L)
    assert px(pix, 153, 597) == BLACK
    # bevel (j 2): corner cut - (153.5,596.5) outside, (151.5,597.5) inside
    pix, _ = render(b"2 j " + L)
    assert px(pix, 153, 596) == WHITE
    assert px(pix, 151, 598) == BLACK
    # round (j 1): disc r=5 at the vertex
    pix, _ = render(b"1 j " + L)
    assert px(pix, 152, 598) == BLACK  # dist ~3.5 < inradius
    assert px(pix, 154, 596) == WHITE  # dist ~6.4 > 5


def test_extgstate_stroke_params():
    """/LW /LC /D flow from ExtGState into the stroke."""
    res = "<< /ExtGState << /G1 5 0 R >> >>"

    def extra(b):
        b.add("<< /Type /ExtGState /LW 8 /LC 2 /D [[10 10] 0] >>", num=5)

    pix, fails = render(
        b"/G1 gs 100 300 m 300 300 l S", res, extra
    )
    assert fails == {}
    assert px(pix, 104, 300) == BLACK  # dashed ON
    assert px(pix, 115, 300) == WHITE  # dashed OFF
    assert px(pix, 98, 300) == BLACK  # projecting square start cap


# --- tiling + shading patterns ---------------------------------------------

def test_tiling_pattern_fill():
    """PatternType 1: a 20x20 cell with a red 10x10 square in its
    lower-left quarter, tiled over a 100x100 fill region."""
    cell = b"1 0 0 rg 0 0 10 10 re f"
    res = "<< /Pattern << /P1 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /PatternType 1 /PaintType 1 /TilingType 1"
            " /BBox [0 0 20 20] /XStep 20 /YStep 20"
            f" /Resources << >> /Length {len(cell)} >>",
            cell,
            num=5,
        )

    pix, fails = render(
        b"/Pattern cs /P1 scn 100 100 100 100 re f", res, extra
    )
    assert fails == {}
    assert px(pix, 105, 105) == (255, 0, 0)  # inside a cell's red square
    assert px(pix, 115, 105) == WHITE  # cell area outside the square
    assert px(pix, 125, 125) == (255, 0, 0)  # next tile over
    assert px(pix, 185, 185) == (255, 0, 0)  # mod 20 = (5,5): red
    assert px(pix, 195, 195) == WHITE  # mod 20 = (15,15): unpainted
    assert px(pix, 99, 105) == WHITE  # outside the fill region
    assert px(pix, 201, 105) == WHITE


def test_tiling_pattern_uncolored_takes_scn_color():
    """PaintType 2 cells have no color: the scn operands supply it."""
    cell = b"0 0 10 10 re f"
    res = "<< /Pattern << /P1 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /PatternType 1 /PaintType 2 /TilingType 1"
            " /BBox [0 0 20 20] /XStep 20 /YStep 20"
            f" /Resources << >> /Length {len(cell)} >>",
            cell,
            num=5,
        )

    pix, fails = render(
        b"/Pattern cs 0 0 1 /P1 scn 100 100 40 40 re f", res, extra
    )
    assert fails == {}
    assert px(pix, 105, 105) == (0, 0, 255)
    assert px(pix, 115, 105) == WHITE


def test_shading_pattern_fill():
    """PatternType 2 routes through fill_shade clipped to the fill."""
    res = "<< /Pattern << /P2 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /PatternType 2 /Shading << /ShadingType 2"
            " /ColorSpace /DeviceRGB /Coords [100 0 200 0]"
            " /Function << /FunctionType 2 /Domain [0 1]"
            " /C0 [1 0 0] /C1 [0 0 1] /N 1 >> /Extend [true true] >> >>",
            num=5,
        )

    pix, fails = render(
        b"/Pattern cs /P2 scn 100 300 100 50 re f", res, extra
    )
    assert fails == {}
    l, r = px(pix, 103, 325), px(pix, 197, 325)
    assert l[0] > 220 and l[2] < 40  # red end
    assert r[2] > 220 and r[0] < 40  # blue end
    assert px(pix, 250, 325) == WHITE  # shading clipped to the fill re


# --- constant alpha + soft masks + groups ----------------------------------

def test_constant_fill_alpha_blends():
    res = "<< /ExtGState << /GA << /ca 0.5 >> >> >>"
    pix, fails = render(
        b"/GA gs 1 0 0 rg 100 100 100 100 re f", res
    )
    assert fails == {}
    assert px(pix, 150, 150) == (255, 128, 128)  # 50% red over white


def test_smask_luminosity_gates_paint():
    """/SMask /Luminosity: white mask area passes paint, black blocks."""
    form = b"1 g 100 100 100 200 re f"
    res = "<< /ExtGState << /GM << /SMask << /S /Luminosity /G 5 0 R >> >> >> >>"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >> /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(
        b"/GM gs 1 0 0 rg 50 100 300 200 re f", res, extra
    )
    assert fails == {}
    assert px(pix, 150, 200) == (255, 0, 0)  # mask luma 1: full paint
    assert px(pix, 250, 200) == WHITE  # mask luma 0: no paint
    assert px(pix, 60, 150) == WHITE  # also outside the mask rect


def test_smask_none_clears():
    res = (
        "<< /ExtGState << /GM << /SMask << /S /Luminosity /G 5 0 R >> >>"
        " /GN << /SMask /None >> >> >>"
    )
    form = b"1 g 100 100 50 50 re f"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            f" /Resources << >> /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(
        b"/GM gs /GN gs 1 0 0 rg 300 300 50 50 re f", res, extra
    )
    assert px(pix, 325, 325) == (255, 0, 0)  # /None removed the mask


def test_transparency_group_composites_once():
    """Two overlapping opaque rects inside a /Group form painted at
    ca 0.5: the overlap blends ONCE (group model), not twice."""
    form = b"1 0 0 rg 100 100 100 100 re f 0 0 1 rg 150 100 100 100 re f"
    res = (
        "<< /ExtGState << /GA << /ca 0.5 >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >> /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"/GA gs /Fx Do", res, extra)
    assert fails == {}
    assert px(pix, 120, 150) == (255, 128, 128)  # red-only area at 50%
    assert px(pix, 230, 150) == (128, 128, 255)  # blue-only area at 50%
    # overlap: blue is on top INSIDE the group; composite once -> same
    # as blue-only (NOT red-then-blue double blended)
    assert px(pix, 180, 150) == (128, 128, 255)


def test_group_partial_alpha_content_no_seed_darkening():
    """ca 0.5 content INSIDE a ca 0.5 group over white must land at
    0.25 red + 0.75 white = (255,191,191) — the backdrop-removal step
    (11.4.5) keeps the offscreen's seed from darkening the result."""
    form = b"/GB gs 1 0 0 rg 100 100 100 100 re f"
    res = (
        "<< /ExtGState << /GA << /ca 0.5 >> /GB << /ca 0.5 >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >>"
            " /Resources << /ExtGState << /GB << /ca 0.5 >> >> >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"/GA gs /Fx Do", res, extra)
    assert fails == {}
    # 192 not 191: the offscreen quantizes to uint8 once mid-pipeline
    assert px(pix, 150, 150) == (255, 192, 192)


def test_group_isolation_flag_changes_blend_backdrop():
    """Multiply inside a group over a yellow backdrop: non-isolated
    (/I default false) multiplies against the yellow; /I true sees a
    transparent backdrop, so the source passes through unmixed."""
    form = b"/GM gs 0.392 0.784 0.196 rg 100 100 100 100 re f"
    res = (
        "<< /ExtGState << /GA << /ca 0.5 >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra_for(iso):
        def extra(b):
            b.add(
                "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
                f" /Group << /S /Transparency /I {iso} >>"
                " /Resources << /ExtGState"
                " << /GM << /BM /Multiply >> >> >>"
                f" /Length {len(form)} >>",
                form,
                num=5,
            )

        return extra

    bg = b"1 1 0 rg 0 0 612 792 re f "  # yellow page
    # src = (100, 200, 50); multiply vs yellow = (100, 200, 0)
    pix, fails = render(bg + b"/GA gs /Fx Do", res, extra_for("false"))
    assert fails == {}
    assert px(pix, 150, 150) == (178, 228, 0)  # 0.5*yellow + 0.5*(100,200,0)
    pix, fails = render(bg + b"/GA gs /Fx Do", res, extra_for("true"))
    assert fails == {}
    assert px(pix, 150, 150) == (178, 228, 25)  # 0.5*yellow + 0.5*src


def test_isolated_group_blend_backdrop_unpremultiplied():
    """Blend backdrop inside an isolated group is the UN-premultiplied
    group color (11.4.5): white at ca 0.5, then Multiply red at ca 1 —
    B(white, red) = red everywhere, so the group lands pure red (the
    premultiplied-backdrop bug yielded (192, 0, 0))."""
    form = (
        b"/GH gs 1 1 1 rg 100 100 100 100 re f "
        b"/GM gs 1 0 0 rg 100 100 100 100 re f"
    )
    res = "<< /XObject << /Fx 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency /I true >>"
            " /Resources << /ExtGState"
            " << /GH << /ca 0.5 >> /GM << /BM /Multiply /ca 1 >> >> >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"/Fx Do", res, extra)
    assert fails == {}
    assert px(pix, 150, 150) == (255, 0, 0)


def test_group_composites_with_do_time_blend_mode():
    """BM at Do time applies ONCE to the group result (11.6.6): a blue
    group over a red page under Difference lands magenta, and the BM
    resets to Normal inside the group (the content fill does not
    difference against the seed)."""
    form = b"0 0 1 rg 100 100 100 100 re f"
    res = (
        "<< /ExtGState << /GD << /BM /Difference >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >> /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    bg = b"1 0 0 rg 0 0 612 792 re f "
    pix, fails = render(bg + b"/GD gs /Fx Do", res, extra)
    assert fails == {}
    assert px(pix, 150, 150) == (255, 0, 255)  # |red - blue|
    assert px(pix, 400, 400) == (255, 0, 0)  # outside: page red


def test_knockout_group_elements_composite_with_initial_backdrop():
    """/K true knockout (11.6.6): each element composites with the
    group's INITIAL backdrop, so where two 50%-alpha rects overlap the
    TOP one alone shows (50% red over white), not red-over-blue-over-
    white. No envelope code — knockout is real now."""
    form = (
        b"/GB gs 0 0 1 rg 100 100 100 100 re f"
        b" 1 0 0 rg 150 100 100 100 re f"
    )
    res = "<< /XObject << /Fx 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency /K true >>"
            " /Resources << /ExtGState << /GB << /ca 0.5 >> >> >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"/Fx Do", res, extra)
    assert fails == {}
    assert px(pix, 120, 150) == (128, 128, 255)  # blue-only at 50%
    assert px(pix, 230, 150) == (255, 128, 128)  # red-only at 50%
    # overlap: knockout -> 50% red over WHITE, the blue is knocked out
    assert px(pix, 180, 150) == (255, 128, 128)


def test_non_knockout_group_still_stacks():
    """Control for the knockout pin: the identical content WITHOUT /K
    stacks normally — the overlap is 50% red over (50% blue over
    white)."""
    form = (
        b"/GB gs 0 0 1 rg 100 100 100 100 re f"
        b" 1 0 0 rg 150 100 100 100 re f"
    )
    res = (
        "<< /ExtGState << /GA << /ca 0.5 >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >>"
            " /Resources << /ExtGState << /GB << /ca 0.5 >> >> >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    # GA forces the offscreen path at a group alpha; use 1.0-equivalent
    # content alpha stack: Do at default alpha, group content at 0.5
    pix, fails = render(b"/Fx Do", res, extra)
    assert fails == {}
    # overlap: 0.5*red + 0.5*(0.5*blue + 0.5*white) = (192, 64, 128)
    assert px(pix, 180, 150) == (192, 64, 128)


def test_knockout_group_isolated_and_with_do_alpha():
    """Isolated knockout under a Do-time ca 0.5: the group result (50%
    red over transparent at the overlap) composites ONCE at 0.5 —
    overlap = 0.25 red + 0.75 white; the knocked-out blue contributes
    nothing."""
    form = (
        b"/GB gs 0 0 1 rg 100 100 100 100 re f"
        b" 1 0 0 rg 150 100 100 100 re f"
    )
    res = (
        "<< /ExtGState << /GA << /ca 0.5 >> >>"
        " /XObject << /Fx 5 0 R >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency /K true /I true >>"
            " /Resources << /ExtGState << /GB << /ca 0.5 >> >> >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"/GA gs /Fx Do", res, extra)
    assert fails == {}
    # group alpha at overlap is the TOP element's 0.5 (replaced, not
    # unioned to 0.75); x Do alpha 0.5 -> 0.25 red + 0.75 white
    assert px(pix, 180, 150) == (255, 191, 191)
    assert px(pix, 120, 150) == (191, 191, 255)  # blue-only at 0.25


# --- mesh shadings 4/5 ------------------------------------------------------

def _mesh_vertex(x, y, rgb, flag=None):
    out = b"" if flag is None else bytes([flag])
    out += struct.pack(">I", round(x / 612 * (2**32 - 1)))
    out += struct.pack(">I", round(y / 792 * (2**32 - 1)))
    return out + bytes(rgb)


def test_mesh_shading_type4_gouraud():
    data = (
        _mesh_vertex(100, 100, (255, 0, 0), flag=0)
        + _mesh_vertex(300, 100, (0, 255, 0), flag=0)
        + _mesh_vertex(200, 300, (0, 0, 255), flag=0)
    )
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /ShadingType 4 /ColorSpace /DeviceRGB"
            " /BitsPerCoordinate 32 /BitsPerComponent 8 /BitsPerFlag 8"
            " /Decode [0 612 0 792 0 1 0 1 0 1]"
            f" /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert fails == {}
    # centroid (200, 166.67): equal barycentric -> (85, 85, 85)
    c = px(pix, 200, 167)
    assert all(abs(int(v) - 85) <= 4 for v in c), c
    # near the red vertex
    r = px(pix, 110, 110)
    assert r[0] > 200 and r[1] < 60 and r[2] < 60, r
    # outside the triangle
    assert px(pix, 110, 250) == WHITE


def test_mesh_shading_type5_lattice():
    data = (
        _mesh_vertex(100, 400, (255, 0, 0))
        + _mesh_vertex(200, 400, (0, 255, 0))
        + _mesh_vertex(100, 500, (0, 0, 255))
        + _mesh_vertex(200, 500, (255, 255, 0))
    )
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /ShadingType 5 /ColorSpace /DeviceRGB /VerticesPerRow 2"
            " /BitsPerCoordinate 32 /BitsPerComponent 8"
            " /Decode [0 612 0 792 0 1 0 1 0 1]"
            f" /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert fails == {}
    # (110, 470) in triangle (v00,v01,v10): l=(0.2, 0.1, 0.7) over
    # colors R,G,B -> (51, 25.5, 178.5)
    c = px(pix, 110, 470)
    assert abs(c[0] - 51) <= 4 and abs(c[1] - 26) <= 4 and abs(c[2] - 178) <= 4, c
    # the other triangle's corner: near (200,500) mostly yellow
    c = px(pix, 195, 495)
    assert c[0] > 200 and c[1] > 200 and c[2] < 60, c


def test_mesh_type4_with_function_colors():
    """Single-t vertices mapped through a /Function."""
    def tv(x, y, t, flag):
        out = bytes([flag])
        out += struct.pack(">I", round(x / 612 * (2**32 - 1)))
        out += struct.pack(">I", round(y / 792 * (2**32 - 1)))
        return out + bytes([t])

    data = tv(100, 600, 0, 0) + tv(300, 600, 0, 0) + tv(200, 700, 255, 0)
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /ShadingType 4 /ColorSpace /DeviceRGB"
            " /BitsPerCoordinate 32 /BitsPerComponent 8 /BitsPerFlag 8"
            " /Decode [0 612 0 792 0 1]"
            " /Function << /FunctionType 2 /Domain [0 1]"
            " /C0 [1 0 0] /C1 [0 0 1] /N 1 >>"
            f" /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert fails == {}
    r = px(pix, 200, 610)  # near the t=0 edge: red
    assert r[0] > 180 and r[2] < 80, r
    bl = px(pix, 200, 690)  # near the t=1 vertex: blue
    assert bl[2] > 180 and bl[0] < 80, bl


@pytest.mark.parametrize("stype", [4, 6])
@pytest.mark.parametrize(
    "cs, decode, code",
    [
        (
            "DeviceCMYK",
            "[0 612 0 792 0 1 0 1 0 1 0 1]",
            "raster_shading_cs:DeviceCMYK",
        ),
        ("DeviceRGB", "[0 612 0 792]", "raster_shading_mesh"),
        ("DeviceRGB", "[0 612 0 792 0 1]", "raster_shading_mesh"),
    ],
)
def test_mesh_stream_failure_codes(stype, cs, decode, code):
    """A mesh (type 4) or patch (type 6) shading the vertex-stream header
    rejects: unsupported colorspace, or a /Decode too short for the
    coordinates (len < 6) or for the color components (len < 4 + 2n)
    records its code and paints nothing."""
    data = _mesh_vertex(100, 100, (255, 0, 0), flag=0) * 16
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            f"<< /ShadingType {stype} /ColorSpace /{cs}"
            " /BitsPerCoordinate 32 /BitsPerComponent 8 /BitsPerFlag 8"
            f" /Decode {decode} /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert set(fails) == {code}, fails
    assert (pix == 255).all()


# --- CFF flex (ADVICE r5 #2) ------------------------------------------------

def test_cff_flex1_keeps_outline_anchored():
    """A glyph whose top edge is drawn by flex1 (net displacement
    (-600, 0)): the outline must close into the full 600x700 block,
    not collapse into a triangle (the pre-fix behavior swallowed the
    deltas)."""
    from delphi_pdf_parser_spark.fixtures import (
        PdfBuilder as PB,
        _bt,
        build_cff,
        simple_doc,
        t2_num,
    )

    cs = bytearray()
    cs += t2_num(0) + t2_num(0) + bytes([21])  # rmoveto 0 0
    cs += t2_num(600) + t2_num(0) + bytes([5])  # rlineto -> (600,0)
    cs += t2_num(0) + t2_num(700) + bytes([5])  # -> (600,700)
    for v in (-100, 0, -100, 0, -100, 0, -100, 0, -100, 0, -100):
        cs += t2_num(v)
    cs += bytes([12, 37])  # flex1: two flat cubics ending at (0,700)
    cs += bytes([14])  # endchar
    cff = build_cff({65: 1}, [0, 34], [], 2, charstrings=[b"\x0e", bytes(cs)])
    b = PB()
    b.set(7, f"<< /Length {len(cff)} /Subtype /Type1C >>", cff)
    b.set(
        6,
        "<< /Type /FontDescriptor /FontName /TF /Flags 4"
        " /FontFile3 7 0 R >>",
    )
    font = (
        "<< /Type /Font /Subtype /Type1 /BaseFont /TF"
        " /FontDescriptor 6 0 R /FirstChar 65 /LastChar 65"
        " /Widths [600] >>"
    )
    b2, cat = simple_doc(
        _bt("/F1 50 Tf 100 100 Td (A) Tj"), font_body=font, builder=b
    )
    w, h, pix, fails = render_page(b2.build_classic(cat), 0, 1.0)
    assert fails == {}, fails
    black = (pix == 0).all(axis=2)
    # full 0.6em x 0.7em block at 50pt = 30 x 35 = 1050 px
    assert 980 < black.sum() < 1120, black.sum()
    # upper-left region of the block only exists if flex moved the pen
    assert black[792 - 130, 105]


def test_dash_polyline_unit():
    from delphi_pdf_parser_spark.pdfcore.raster import dash_polyline

    pts = np.array([[0.0, 0.0], [100.0, 0.0]])
    pieces = dash_polyline(pts, [10, 10], 0)
    assert len(pieces) == 5
    assert pieces[0][0][0] == 0 and abs(pieces[0][-1][0] - 10) < 1e-9
    assert abs(pieces[1][0][0] - 20) < 1e-9
    # phase shifts the cycle
    pieces = dash_polyline(pts, [10, 10], 5)
    assert abs(pieces[0][-1][0] - 5.0) < 1e-9  # first ON run truncated
    # empty / all-zero pattern -> whole line
    assert len(dash_polyline(pts, [], 0)) == 1
    # legal zero elements (8.4.3.6 forbids only all-zero arrays):
    # [5 0] is effectively solid, [3 0 2] merges the abutting on-runs,
    # and neither crashes on the cur/on bookkeeping
    pieces = dash_polyline(np.array([[0.0, 0.0], [12.0, 0.0]]), [5, 0], 0)
    assert [(p[0][0], p[-1][0]) for p in pieces] == [
        (0.0, 5.0), (5.0, 10.0), (10.0, 12.0)
    ]
    pieces = dash_polyline(
        np.array([[0.0, 0.0], [12.0, 0.0]]), [3, 0, 2], 0
    )
    assert [(p[0][0], p[-1][0]) for p in pieces] == [
        (0.0, 3.0), (3.0, 5.0), (10.0, 12.0)
    ]


def _patch_pt(x, y):
    return struct.pack(">I", round(x / 612 * (2**32 - 1))) + struct.pack(
        ">I", round(y / 792 * (2**32 - 1))
    )


def test_coons_patch_shading_type6():
    """A flat Coons patch (collinear edge controls -> exact bilinear
    square [100,200]^2) with corners R,G,Y,B: the surface degenerates
    to bilinear color interpolation."""
    t = 100 / 3.0
    pts = [
        (100, 100), (100 + t, 100), (100 + 2 * t, 100), (200, 100),  # bottom
        (200, 100 + t), (200, 100 + 2 * t), (200, 200),  # right
        (200 - t, 200), (200 - 2 * t, 200), (100, 200),  # top
        (100, 200 - t), (100, 200 - 2 * t),  # left
    ]
    cols = [(255, 0, 0), (0, 255, 0), (255, 255, 0), (0, 0, 255)]
    data = bytes([0]) + b"".join(_patch_pt(*p) for p in pts) + b"".join(
        bytes(c) for c in cols
    )
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /ShadingType 6 /ColorSpace /DeviceRGB"
            " /BitsPerCoordinate 32 /BitsPerComponent 8 /BitsPerFlag 8"
            " /Decode [0 612 0 792 0 1 0 1 0 1]"
            f" /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert fails == {}, fails
    # center = average of the four corners: (127.5, 127.5, 63.75)
    c = px(pix, 150, 150)
    assert all(
        abs(int(v) - e) <= 6 for v, e in zip(c, (128, 128, 64))
    ), c
    # near corner c1 (100,100): red-dominant
    c = px(pix, 104, 104)
    assert c[0] > 220 and c[2] < 40, c
    # near corner c4 (100,200): blue-dominant
    c = px(pix, 104, 196)
    assert c[2] > 220 and c[0] < 40, c
    # outside the patch
    assert px(pix, 95, 150) == WHITE


def test_tensor_patch_shading_type7_with_continuation():
    """Type 7 (16-point tensor) flat patch + a flag-1 continuation
    sharing the right edge: the second patch reuses prev p4..p7 as its
    bottom edge and prev colors c2,c3 as its c1,c2."""
    t = 100 / 3.0
    boundary = [
        (100, 100), (100 + t, 100), (100 + 2 * t, 100), (200, 100),
        (200, 100 + t), (200, 100 + 2 * t), (200, 200),
        (200 - t, 200), (200 - 2 * t, 200), (100, 200),
        (100, 200 - t), (100, 200 - 2 * t),
    ]
    interior = [  # d22 d23 d33 d32 at exact bilinear positions
        (100 + t, 100 + t), (100 + 2 * t, 100 + t),
        (100 + 2 * t, 100 + 2 * t), (100 + t, 100 + 2 * t),
    ]
    cols = [(255, 0, 0), (0, 255, 0), (255, 255, 0), (0, 0, 255)]
    patch0 = (
        bytes([0])
        + b"".join(_patch_pt(*p) for p in boundary + interior)
        + b"".join(bytes(c) for c in cols)
    )
    # continuation to the right: square [200,300]x[100,200].
    # Roles for the new patch: p1=(200,100) p4=(200,200) shared;
    # p5,p6 = controls of edge p4->p7 = (200,200)->(300,200);
    # p7=(300,200); p8,p9 = controls of (300,200)->(300,100);
    # p10=(300,100); p11,p12 = controls of (300,100)->(200,100)
    cont_pts = [
        (200 + t, 200), (200 + 2 * t, 200), (300, 200),
        (300, 200 - t), (300, 200 - 2 * t), (300, 100),
        (300 - t, 100), (300 - 2 * t, 100),
    ]
    cont_interior = [
        (200 + t, 100 + t * 2), (200 + 2 * t, 100 + 2 * t),
        (200 + 2 * t, 100 + t), (200 + t, 100 + t),
    ]
    cont_cols = [(255, 0, 255), (0, 0, 0)]  # new c3 (at p7), c4 (at p10)
    patch1 = (
        bytes([1])
        + b"".join(_patch_pt(*p) for p in cont_pts + cont_interior)
        + b"".join(bytes(c) for c in cont_cols)
    )
    data = patch0 + patch1
    res = "<< /Shading << /SH 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /ShadingType 7 /ColorSpace /DeviceRGB"
            " /BitsPerCoordinate 32 /BitsPerComponent 8 /BitsPerFlag 8"
            " /Decode [0 612 0 792 0 1 0 1 0 1]"
            f" /Length {len(data)} >>",
            data,
            num=5,
        )

    pix, fails = render(b"/SH sh", res, extra)
    assert fails == {}, fails
    # first patch center: bilinear average as in the Coons test
    c = px(pix, 150, 150)
    assert all(abs(int(v) - e) <= 6 for v, e in zip(c, (128, 128, 64))), c
    # continuation patch: its c4 corner sits at p10=(300,100) (black)
    c = px(pix, 296, 104)
    assert all(v < 40 for v in c), c
    # its c3 corner at p7=(300,200) (magenta)
    c = px(pix, 296, 196)
    assert c[0] > 220 and c[1] < 40 and c[2] > 220, c
    # shared edge continuity: just right of (200,150) blends prev
    # c2 (G at v=0 of the shared edge) and c3 (Y): mid ~ (127.5,255,0)
    c = px(pix, 204, 150)
    assert c[1] > 220 and abs(int(c[0]) - 128) <= 16 and c[2] < 30, c


def test_tiling_cell_clip_does_not_leak():
    """A pattern cell that clips WITHOUT q/Q bracketing must not leave
    its clip on the canvas stack after the pattern fill."""
    cell = b"0 0 5 5 re W n 1 0 0 rg 0 0 20 20 re f"
    res = "<< /Pattern << /P1 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /PatternType 1 /PaintType 1 /TilingType 1"
            " /BBox [0 0 20 20] /XStep 20 /YStep 20"
            f" /Resources << >> /Length {len(cell)} >>",
            cell,
            num=5,
        )

    pix, fails = render(
        b"/Pattern cs /P1 scn 100 100 40 40 re f"
        b" 0 0 1 rg 300 300 20 20 re f",  # painted AFTER the pattern
        res,
        extra,
    )
    assert fails == {}
    assert px(pix, 102, 102) == (255, 0, 0)  # clipped cell painted
    assert px(pix, 110, 110) == WHITE  # outside the cell's own clip
    # the later fill is unaffected by the cell's un-bracketed clip
    assert px(pix, 310, 310) == (0, 0, 255)


# --- resource colorspaces in color operators --------------------------------

def test_indexed_colorspace_fill():
    """[/Indexed /DeviceRGB hival lut] + `i sc`: palette lookup."""
    res = "<< /ColorSpace << /CSI 5 0 R >> >>"
    lut = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B

    def extra(b):
        b.add(f"<< /Length {len(lut)} >>", lut, num=6)
        b.add("[/Indexed /DeviceRGB 2 6 0 R]", num=5)

    pix, fails = render(
        b"/CSI cs 1 sc 100 100 50 50 re f"
        b" /CSI cs 2 sc 200 100 50 50 re f",
        res,
        extra,
    )
    assert fails == {}
    assert px(pix, 125, 125) == (0, 255, 0)  # palette entry 1
    assert px(pix, 225, 125) == (0, 0, 255)  # palette entry 2


def test_separation_colorspace_fill():
    """[/Separation /Spot /DeviceRGB tint] + `t scn`: the tint
    transform maps t=1 to pure red via a type-2 function."""
    res = "<< /ColorSpace << /SP 5 0 R >> >>"

    def extra(b):
        b.add(
            "[/Separation /Spot /DeviceRGB"
            " << /FunctionType 2 /Domain [0 1]"
            " /C0 [1 1 1] /C1 [1 0 0] /N 1 >>]",
            num=5,
        )

    pix, fails = render(
        b"/SP cs 1 scn 100 200 50 50 re f"
        b" /SP cs 0.5 scn 200 200 50 50 re f",
        res,
        extra,
    )
    assert fails == {}
    assert px(pix, 125, 225) == (255, 0, 0)  # full tint
    # half tint: lerp (1,1,1)->(1,0,0) at 0.5 = (255,128,128)
    assert px(pix, 225, 225) == (255, 128, 128)


def test_lab_colorspace_fill_rescales_operands():
    """sc operands in a Lab space are REAL Lab values (L 0..100, a/b
    per /Range), not byte fractions: Lab white `100 0 0 sc` must paint
    white, and a chromatic triple must match lab_to_rgb fed the
    correctly-rescaled encoding."""
    from delphi_pdf_parser_spark.pdfcore.colorspace import lab_to_rgb

    res = "<< /ColorSpace << /LB 5 0 R >> >>"

    def extra(b):
        b.add(
            "[/Lab << /WhitePoint [0.9505 1 1.089]"
            " /Range [-100 100 -100 100] >>]",
            num=5,
        )

    pix, fails = render(
        b"/LB cs 100 0 0 sc 100 100 50 50 re f"
        b" /LB cs 50 60 -60 sc 200 100 50 50 re f",
        res,
        extra,
    )
    assert fails == {}
    assert px(pix, 125, 125) == (255, 255, 255)  # Lab white -> white
    import numpy as np

    exp = tuple(
        int(v)
        for v in np.clip(
            np.round(
                lab_to_rgb(
                    np.array([[0.5, (60 + 128) / 255.0, (-60 + 128) / 255.0]])
                )[0]
                * 255.0
            ),
            0,
            255,
        )
    )
    assert px(pix, 225, 125) == exp


def test_device_color_op_clears_resource_space():
    """g/rg after an Indexed cs: operands are device components again."""
    res = "<< /ColorSpace << /CSI 5 0 R >> >>"
    lut = bytes([255, 0, 0, 0, 255, 0])

    def extra(b):
        b.add(f"<< /Length {len(lut)} >>", lut, num=6)
        b.add("[/Indexed /DeviceRGB 1 6 0 R]", num=5)

    pix, fails = render(
        b"/CSI cs 1 sc 0 0 1 rg 100 300 50 50 re f", res, extra
    )
    assert fails == {}
    assert px(pix, 125, 325) == (0, 0, 255)  # rg wins, not palette


# --- separable blend modes --------------------------------------------------

def test_blend_mode_multiply_and_screen():
    res = (
        "<< /ExtGState << /GM << /BM /Multiply >>"
        " /GS << /BM /Screen >> /GN << /BM /Normal >> >> >>"
    )
    pix, fails = render(
        b"0 0 1 rg 100 100 150 100 re f"          # blue backdrop
        b" /GM gs 1 0 0 rg 150 100 150 100 re f"  # multiply red over it
        b" /GN gs 0 0 1 rg 100 300 150 100 re f"  # second blue backdrop
        b" /GS gs 1 0 0 rg 150 300 150 100 re f", # screen red over it
        res,
    )
    assert fails == {}
    # multiply: over blue -> (0,0,0); over white -> red
    assert px(pix, 200, 150) == (0, 0, 0)
    assert px(pix, 270, 150) == (255, 0, 0)
    # screen: over blue -> magenta; over white -> white
    assert px(pix, 200, 350) == (255, 0, 255)
    assert px(pix, 270, 350) == (255, 255, 255)


def test_blend_mode_difference_and_alpha():
    res = "<< /ExtGState << /GD << /BM /Difference /ca 0.5 >> >> >>"
    pix, fails = render(
        b"/GD gs 1 0 0 rg 100 500 100 100 re f", res
    )
    assert fails == {}
    # difference(white, red) = (0,255,255) cyan, composited at 0.5:
    # 0.5*cyan + 0.5*white = (128, 255, 255)
    assert px(pix, 150, 550) == (128, 255, 255)


def test_blend_mode_nonseparable_pixel_truth():
    """PDF 32000 11.3.5.3 Lum/Sat construction, hand-derived:
    blue source over red backdrop (Lum(red)=0.3, Lum(blue)=0.11) —
    Luminosity -> SetLum(red, 0.11) = (0.3667, 0, 0);
    Color and Hue -> SetLum(blue, 0.3) = (0.2135, 0.2135, 1) after
    ClipColor's x>1 branch; Saturation -> red unchanged (Sat(blue)=1,
    SetSat(red,1)=red). Over the WHITE page, Hue must vanish entirely
    (Sat(white)=0 -> gray at Lum(white)=1 -> white)."""
    res = (
        "<< /ExtGState << /GL << /BM /Luminosity >>"
        " /GC << /BM /Color >> /GH << /BM /Hue >>"
        " /GS << /BM /Saturation >> /GN << /BM /Normal >> >> >>"
    )
    bd = b" 1 0 0 rg %d 100 100 100 re f"  # red backdrop column
    ov = b" 0 0 1 rg %d 150 100 100 re f"  # blue, overlaps lower half
    content = b""
    for i, g in enumerate((b"/GL", b"/GC", b"/GH", b"/GS")):
        x = 100 + 130 * i
        content += b"/GN gs" + (bd % x) + b" " + g + b" gs" + (ov % x)
    pix, fails = render(content, res)
    assert fails == {}
    # in-overlap (backdrop red):
    assert px(pix, 150, 175) == (94, 0, 0)      # Luminosity
    assert px(pix, 280, 175) == (54, 54, 255)   # Color
    assert px(pix, 410, 175) == (54, 54, 255)   # Hue
    assert px(pix, 540, 175) == (255, 0, 0)     # Saturation: unchanged
    # above the backdrop (white page): Hue of blue over white = white
    assert px(pix, 410, 225) == (255, 255, 255)
    # Luminosity of blue over white = gray at Lum(blue)=0.11
    assert px(pix, 150, 225) == (28, 28, 28)


def test_smask_transfer_function_inverts():
    """/TR (PDF 32000 11.6.5.2): a type-2 inverting function flips the
    luminosity map — the white mask area now BLOCKS paint and the black
    backdrop area passes it."""
    form = b"1 g 100 100 100 200 re f"
    res = (
        "<< /ExtGState << /GM << /SMask << /S /Luminosity /G 5 0 R"
        " /TR << /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] /N 1 >>"
        " >> >> >> >>"
    )

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            " /Group << /S /Transparency >> /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(
        b"/GM gs 1 0 0 rg 50 100 300 200 re f", res, extra
    )
    assert fails == {}
    assert px(pix, 150, 200) == WHITE  # luma 1 -> TR -> 0: blocked
    assert px(pix, 250, 200) == (255, 0, 0)  # luma 0 -> TR -> 1: full


def test_inline_image_dct_decodes():
    """BI with /F /DCT routes through the from-scratch baseline JPEG
    decoder; a uniform block is a DC-only decode, exact at quant=1."""
    from delphi_pdf_parser_spark.fixtures import jpeg_encode

    jp = jpeg_encode(16, 16, 1, bytes([77]) * 256)
    content = (
        b"q 100 0 0 100 100 100 cm BI /W 16 /H 16 /BPC 8 /CS /G"
        b" /F /DCT ID " + jp + b" EI Q"
        b" 1 0 0 rg 400 100 50 50 re f"  # post-image op still runs
    )
    pix, fails = render(content)
    assert fails == {}
    assert px(pix, 150, 150) == (77, 77, 77)
    assert px(pix, 99, 150) == WHITE  # outside the placed unit square
    assert px(pix, 425, 125) == (255, 0, 0)  # lexer resynced after EI


def test_inline_jpeg_with_exif_thumbnail_eoi_not_truncated():
    """An APP1 (EXIF) segment may contain its thumbnail's own FFD9;
    the payload scan must walk marker lengths to the REAL EOI instead
    of truncating at the first FFD9 and desyncing the stream."""
    from delphi_pdf_parser_spark.fixtures import jpeg_encode

    jp = jpeg_encode(16, 16, 1, bytes([77]) * 256)
    assert jp[:2] == b"\xff\xd8"
    # splice an APP1 segment right after SOI whose body embeds FFD9
    exif_body = b"Exif\x00\x00" + b"\xff\xd8" + b"\x00" * 8 + b"\xff\xd9"
    app1 = b"\xff\xe1" + (len(exif_body) + 2).to_bytes(2, "big") + exif_body
    jp2 = jp[:2] + app1 + jp[2:]
    content = (
        b"q 100 0 0 100 100 100 cm BI /W 16 /H 16 /BPC 8 /CS /G"
        b" /F /DCT ID " + jp2 + b" EI Q"
        b" 1 0 0 rg 400 100 50 50 re f"
    )
    pix, fails = render(content)
    assert fails == {}
    assert px(pix, 150, 150) == (77, 77, 77)  # image decoded whole
    assert px(pix, 425, 125) == (255, 0, 0)   # stream stayed in sync


def test_blend_mode_unknown_name_records_failure():
    res = "<< /ExtGState << /GX << /BM /Bogus >> >> >>"
    pix, fails = render(b"/GX gs 1 0 0 rg 100 100 50 50 re f", res)
    assert fails.get("raster_blend_mode:Bogus") == 1
    assert px(pix, 125, 125) == (255, 0, 0)  # painted Normal instead


# --- text render modes: stroke the outlines ---------------------------------

def _block_glyph_doc(ops: str):
    from delphi_pdf_parser_spark.fixtures import (
        PdfBuilder as PB,
        build_ttf,
        simple_doc,
    )

    ttf = build_ttf(
        cmaps=[(3, 1, {0x41: 1})],
        advances=(500, 600),
        glyphs={0: [], 1: [[(0, 0), (600, 0), (600, 700), (0, 700)]]},
    )
    b = PB()
    b.set(7, f"<< /Length {len(ttf)} >>", ttf)
    b.set(
        6,
        "<< /Type /FontDescriptor /FontName /T /Flags 32"
        " /FontFile2 7 0 R >>",
    )
    font = (
        "<< /Type /Font /Subtype /TrueType /BaseFont /T"
        " /FontDescriptor 6 0 R /FirstChar 65 /LastChar 65"
        " /Widths [600] >>"
    )
    return simple_doc(
        f"BT /F1 100 Tf {ops} ET".encode(), font_body=font, builder=b
    )


def test_text_mode_stroke_only_leaves_interior_empty():
    """Tr 1: the glyph OUTLINE strokes (width 6 band), interior white.
    100pt block glyph at (100,100): box [100,160]x[100,170]."""
    b, cat = _block_glyph_doc("1 Tr 6 w 1 0 0 RG 100 100 Td (A) Tj")
    w, h, pix, fails = render_page(b.build_classic(cat), 0, 1.0)
    assert fails == {}, fails
    assert tuple(pix[792 - 135, 130]) == (255, 255, 255)  # interior
    assert tuple(pix[792 - 135, 100]) == (255, 0, 0)  # left edge band
    assert tuple(pix[792 - 100, 130]) == (255, 0, 0)  # bottom edge band
    assert tuple(pix[792 - 135, 90]) == (255, 255, 255)  # outside


def test_text_mode_fill_then_stroke_uses_both_colors():
    """Tr 2: interior takes the fill color, the boundary band the
    stroke color."""
    b, cat = _block_glyph_doc(
        "2 Tr 6 w 0 0 1 rg 1 0 0 RG 100 300 Td (A) Tj"
    )
    w, h, pix, fails = render_page(b.build_classic(cat), 0, 1.0)
    assert fails == {}, fails
    assert tuple(pix[792 - 335, 130]) == (0, 0, 255)  # filled interior
    assert tuple(pix[792 - 335, 100]) == (255, 0, 0)  # stroked boundary
    assert tuple(pix[792 - 335, 90]) == (255, 255, 255)


# --- image-level alpha: /SMask, stencil /Mask, color-key /Mask --------------

def _flate(data: bytes) -> bytes:
    import zlib

    return zlib.compress(data)


def test_image_smask_matte_unblends_preblended_base():
    """/Matte (11.6.5.3): the base was stored pre-blended C' = M + a*(C-M);
    the renderer recovers C before compositing. Black matte, gray base
    160, alpha 204/255 = 0.8 -> recovered C = 200 exactly; over white:
    200*0.8 + 255*0.2 = 211. The no-unblend bug yields 179."""
    base = _flate(bytes([160]))
    sm = _flate(bytes([204]))

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            " /Filter /FlateDecode /SMask 6 0 R"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            " /Matte [0]"
            f" /Filter /FlateDecode /Length {len(sm)} >>",
            sm,
            num=6,
        )

    pix, fails = render(
        b"q 100 0 0 100 100 100 cm /Im1 Do Q",
        "<< /XObject << /Im1 5 0 R >> >>",
        extra,
    )
    assert fails == {}  # matte handled, no envelope code
    assert px(pix, 150, 150) == (211, 211, 211)


def test_image_smask_matte_rgb_base_and_malformed_matte():
    """The /Matte un-blend must work on an RGB base (a read-only
    frombuffer view — the in-place write crashed and blanked the
    image), and a malformed /Matte keeps the pre-blended colors with
    the envelope code."""
    # pre-blended red at a=0.8 over black matte: stored (204, 0, 0);
    # recover (255, 0, 0); over white: 255*0.8+51 = (255, 51, 51)
    base = _flate(bytes([204, 0, 0]))
    sm = _flate(bytes([204]))

    def extra_for(matte):
        def extra(b):
            b.add(
                "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
                " /ColorSpace /DeviceRGB /BitsPerComponent 8"
                " /Filter /FlateDecode /SMask 6 0 R"
                f" /Length {len(base)} >>",
                base,
                num=5,
            )
            b.add(
                "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
                " /ColorSpace /DeviceGray /BitsPerComponent 8"
                f" /Matte {matte}"
                f" /Filter /FlateDecode /Length {len(sm)} >>",
                sm,
                num=6,
            )

        return extra

    pix, fails = render(
        b"q 100 0 0 100 100 100 cm /Im1 Do Q",
        "<< /XObject << /Im1 5 0 R >> >>",
        extra_for("[0 0 0]"),
    )
    assert fails == {}
    assert px(pix, 150, 150) == (255, 51, 51)

    # malformed matte: pre-blended colors painted, envelope code set
    pix, fails = render(
        b"q 100 0 0 100 100 100 cm /Im1 Do Q",
        "<< /XObject << /Im1 5 0 R >> >>",
        extra_for("<< >>"),
    )
    assert fails == {"raster_smask_matte": 1}
    # stored (204,0,0) at alpha 0.8 over white: 204*0.8+51 = 214
    assert px(pix, 150, 150) == (214, 51, 51)


def test_image_smask_per_pixel_alpha():
    """/SMask on an image XObject (PDF 32000 8.9.6.3): a 1x1 red base
    under a 2x1 gray smask [0, 255] paints transparent-left/opaque-right
    — the mask has its OWN dimensions, mapped onto the same unit
    square. A mid-gray smask blends: 51 -> alpha 0.2 -> red over white
    = (255, 204, 204)."""
    base = _flate(bytes([255, 0, 0]))
    sm = _flate(bytes([0, 255]))
    sm2 = _flate(bytes([51]))

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /SMask 6 0 R"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 2 /Height 1"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            f" /Filter /FlateDecode /Length {len(sm)} >>",
            sm,
            num=6,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /SMask 8 0 R"
            f" /Length {len(base)} >>",
            base,
            num=7,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            f" /Filter /FlateDecode /Length {len(sm2)} >>",
            sm2,
            num=8,
        )

    pix, fails = render(
        b"q 200 0 0 100 100 400 cm /Im1 Do Q"
        b" q 100 0 0 100 400 400 cm /Im2 Do Q",
        "<< /XObject << /Im1 5 0 R /Im2 7 0 R >> >>",
        extra,
    )
    assert fails == {}
    assert px(pix, 150, 450) == (255, 255, 255)  # smask 0: transparent
    assert px(pix, 250, 450) == (255, 0, 0)      # smask 255: opaque red
    assert px(pix, 450, 450) == (255, 204, 204)  # smask 51: 0.2 alpha


def test_image_smask_composes_with_constant_alpha():
    """Image /SMask multiplies with the gstate /ca: opaque smask x
    ca 0.5 -> 50% red over white."""
    base = _flate(bytes([255, 0, 0]))
    sm = _flate(bytes([255]))

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /SMask 6 0 R"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            f" /Filter /FlateDecode /Length {len(sm)} >>",
            sm,
            num=6,
        )

    pix, fails = render(
        b"/GA gs q 100 0 0 100 100 400 cm /Im1 Do Q",
        "<< /ExtGState << /GA << /ca 0.5 >> >>"
        " /XObject << /Im1 5 0 R >> >>",
        extra,
    )
    assert fails == {}
    assert px(pix, 150, 450) == (255, 128, 128)


def test_image_stencil_mask_stream():
    """/Mask as a stream (8.9.6.4): sample 1 masks OUT under the
    default Decode; /Decode [1 0] flips the polarity."""
    base = _flate(bytes([255, 0, 0]))
    # bits [[0,1],[1,0]] -> row bytes 0x40, 0x80 (1-bpc, byte-aligned)
    mask_bits = bytes([0x40, 0x80])

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /Mask 6 0 R"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
            " /ImageMask true /BitsPerComponent 1"
            f" /Length {len(mask_bits)} >>",
            mask_bits,
            num=6,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 1 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /Mask 8 0 R"
            f" /Length {len(base)} >>",
            base,
            num=7,
        )
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
            " /ImageMask true /BitsPerComponent 1 /Decode [1 0]"
            f" /Length {len(mask_bits)} >>",
            mask_bits,
            num=8,
        )

    pix, fails = render(
        b"q 200 0 0 100 100 400 cm /Im1 Do Q"
        b" q 200 0 0 100 350 400 cm /Im2 Do Q",
        "<< /XObject << /Im1 5 0 R /Im2 7 0 R >> >>",
        extra,
    )
    assert fails == {}
    # mask row 0 = TOP of the unit square (user y 450..500)
    assert px(pix, 150, 475) == (255, 0, 0)      # bit 0: painted
    assert px(pix, 250, 475) == (255, 255, 255)  # bit 1: masked out
    assert px(pix, 150, 425) == (255, 255, 255)
    assert px(pix, 250, 425) == (255, 0, 0)
    # inverted Decode flips all four quadrants
    assert px(pix, 400, 475) == (255, 255, 255)
    assert px(pix, 500, 475) == (255, 0, 0)
    assert px(pix, 400, 425) == (255, 0, 0)
    assert px(pix, 500, 425) == (255, 255, 255)


def test_image_colorkey_mask_array():
    """/Mask as an array (8.9.6.5): source samples inside every range
    become fully transparent — here pure green is keyed out of a
    red|green 2x1 DeviceRGB image."""
    base = _flate(bytes([255, 0, 0, 0, 255, 0]))

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 2 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Filter /FlateDecode /Mask [0 10 250 255 0 10]"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )

    pix, fails = render(
        b"q 200 0 0 100 100 400 cm /Im1 Do Q",
        "<< /XObject << /Im1 5 0 R >> >>",
        extra,
    )
    assert fails == {}
    assert px(pix, 150, 450) == (255, 0, 0)      # red: not keyed
    assert px(pix, 250, 450) == (255, 255, 255)  # green: keyed out


def test_segment_after_re_starts_new_subpath():
    """8.5.2.1: appending a segment after re/h begins a NEW subpath —
    no phantom closing edge from the appended segment's endpoint back
    to the rectangle corner may be stroked."""
    # `re` then a bare `l`: the l segment starts a fresh subpath at
    # the rect corner (100,100); the buggy extend kept the subpath
    # closed, losing the rect's left edge and adding a spurious
    # (100,200)->(300,300) edge
    pix, fails = render(b"0 0 0 RG 4 w 100 100 100 100 re 300 300 l S")
    assert fails == {}
    assert px(pix, 100, 150) == BLACK   # rect left (closing) edge
    assert px(pix, 150, 150) == BLACK   # the new diagonal subpath
    assert px(pix, 200, 250) == WHITE   # no (100,200)->(300,300) edge


def test_image_colorkey_ranges_apply_pre_decode():
    """8.9.6.5 color-key ranges are over SOURCE samples; with an
    inverting /Decode [1 0 1 0 1 0] the decoded array is 255-s, so the
    keyed range must flip with it — source-green is still the keyed
    pixel, not decoded-green."""
    # source red|green; Decode [1 0 ...] renders them cyan|magenta
    base = _flate(bytes([255, 0, 0, 0, 255, 0]))

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Image /Width 2 /Height 1"
            " /ColorSpace /DeviceRGB /BitsPerComponent 8"
            " /Decode [1 0 1 0 1 0]"
            " /Filter /FlateDecode /Mask [0 10 250 255 0 10]"
            f" /Length {len(base)} >>",
            base,
            num=5,
        )

    pix, fails = render(
        b"q 200 0 0 100 100 400 cm /Im1 Do Q",
        "<< /XObject << /Im1 5 0 R >> >>",
        extra,
    )
    assert fails == {}
    # source red (decoded cyan): NOT keyed — paints cyan
    assert px(pix, 150, 450) == (0, 255, 255)
    # source green (decoded magenta): keyed out — page shows through
    assert px(pix, 250, 450) == (255, 255, 255)


# --- form XObject /BBox clipping (PDF 32000 8.10.1) -------------------------

def test_form_xobject_content_clipped_to_bbox():
    """Form content is clipped to /BBox mapped through Matrix∘CTM: a
    fill that overflows the BBox paints only inside it, and the clip
    unwinds after Do."""
    form = b"1 0 0 rg 0 0 200 200 re f"
    res = "<< /XObject << /Fx 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form /BBox [0 0 50 50]"
            " /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(
        b"q 1 0 0 1 100 400 cm /Fx Do Q 0 0 1 rg 300 400 50 50 re f",
        res,
        extra,
    )
    assert fails == {}
    assert px(pix, 120, 420) == (255, 0, 0)      # inside BBox
    assert px(pix, 180, 420) == (255, 255, 255)  # outside BBox: clipped
    assert px(pix, 120, 480) == (255, 255, 255)  # above BBox: clipped
    # the clip unwound: the follow-up blue fill outside paints normally
    assert px(pix, 325, 425) == (0, 0, 255)


def test_form_xobject_malformed_bbox_renders_unclipped():
    """A non-numeric /BBox must not silently coerce to a 0x0 clip that
    blanks the form — the clip is skipped (tolerant render) and
    form_bbox_malformed is recorded."""
    form = b"1 0 0 rg 0 0 50 50 re f"
    res = "<< /XObject << /Fx 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /Type /XObject /Subtype /Form"
            " /BBox [null null null null] /Resources << >>"
            f" /Length {len(form)} >>",
            form,
            num=5,
        )

    pix, fails = render(b"q 1 0 0 1 100 400 cm /Fx Do Q", res, extra)
    assert fails == {"form_bbox_malformed": 1}
    assert px(pix, 120, 420) == (255, 0, 0)  # content still painted


# --- tile-cell cache (VERDICT r6 #5) ----------------------------------------

def _tiling_fixture(cell: bytes, paint: bytes, bbox="[0 0 20 20]",
                    xstep=20, ystep=20):
    res = "<< /Pattern << /P1 5 0 R >> >>"

    def extra(b):
        b.add(
            "<< /PatternType 1 /PaintType 1 /TilingType 1"
            f" /BBox {bbox} /XStep {xstep} /YStep {ystep}"
            f" /Resources << >> /Length {len(cell)} >>",
            cell,
            num=5,
        )

    return paint, res, extra


def test_tiling_cache_engages_and_matches_replay(monkeypatch):
    """The cached stamp must actually run on integer-step patterns AND
    produce byte-identical pixels to direct per-tile replay."""
    from delphi_pdf_parser_spark.pdfcore import rasterdev

    cell = b"1 0 0 rg 0 0 10 10 re f 0 0 1 RG 2 w 3 13 m 17 13 l S"
    paint, res, extra = _tiling_fixture(
        cell, b"/Pattern cs /P1 scn 87 103 211 173 re f"
    )
    calls = {"n": 0}
    orig = rasterdev.RasterDevice._stamp_cached_tiles

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        calls["n"] += int(out)
        return out

    monkeypatch.setattr(rasterdev.RasterDevice, "_stamp_cached_tiles", spy)
    pix_cached, fails = render(paint, res, extra)
    assert fails == {}
    assert calls["n"] == 1  # cache path taken

    monkeypatch.setattr(
        rasterdev.RasterDevice,
        "_stamp_cached_tiles",
        lambda self, *a, **kw: False,
    )
    pix_replay, fails2 = render(paint, res, extra)
    assert fails2 == {}
    assert np.array_equal(pix_cached, pix_replay)


def test_tiling_many_tiles_renders_fully_without_clamp():
    """A 4x4 cell over a full-page fill is ~30k tiles — over the old
    4096 replay clamp. The cached path renders every tile: no
    raster_pattern_tiles failure, pattern visible in all corners."""
    cell = b"0 0.5 0 rg 0 0 2 2 re f"
    paint, res, extra = _tiling_fixture(
        cell,
        b"/Pattern cs /P1 scn 0 0 612 792 re f",
        bbox="[0 0 4 4]",
        xstep=4,
        ystep=4,
    )
    pix, fails = render(paint, res, extra)
    assert "raster_pattern_tiles" not in fails
    assert fails == {}
    green = (0, 128, 0)
    # painted band: user x,y = 0,1 (mod 4)
    assert px(pix, 1, 789) == green   # top-left corner tile
    assert px(pix, 609, 1) == green   # bottom-right corner tile
    assert px(pix, 305, 397) == green  # center
    assert px(pix, 3, 791) == WHITE   # unpainted 2x2 of each cell


def test_tiling_cache_bails_to_replay_on_fractional_alpha():
    """A semi-transparent cell must fall back to exact per-tile replay
    (binary-coverage guard) and still paint correctly."""
    from delphi_pdf_parser_spark.pdfcore import rasterdev

    # cell uses ExtGState alpha -> resources guard bails immediately
    res = (
        "<< /Pattern << /P1 5 0 R >> >>"
    )

    def extra(b):
        cell = b"/GA gs 1 0 0 rg 0 0 20 20 re f"
        b.add(
            "<< /PatternType 1 /PaintType 1 /TilingType 1"
            " /BBox [0 0 20 20] /XStep 20 /YStep 20"
            " /Resources << /ExtGState << /GA << /ca 0.5 >> >> >>"
            f" /Length {len(cell)} >>",
            cell,
            num=5,
        )

    pix, fails = render(
        b"/Pattern cs /P1 scn 100 100 40 40 re f", res, extra
    )
    assert fails == {}
    # 50% red over white = (255, 127, 127)ish
    r, g, bl = px(pix, 105, 105)
    assert r == 255 and 120 <= g <= 135 and 120 <= bl <= 135
