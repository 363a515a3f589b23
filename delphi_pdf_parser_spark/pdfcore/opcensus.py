"""Display-list op census: per-page content-stream operator statistics.

The reference's largest capability this engine does not reproduce is the
rasterizing page-render sink (openfile4, src/digPdfViewer.pas:740-826 +
src/vcl/draw_devicess.pas): an analytics engine has no use for pixels,
but the DISPLAY LIST the renderer walks — which operators a page
executes, how many paths/images/text runs — is exactly the kind of
corpus statistic a 100 TB triage pass wants. This census tokenizes each
page's content (same bulk lexer as the text path), counts operators by
category, resolves Do targets to image vs form via the resource
dictionary, and recurses into form XObjects with the interpreter's same
depth guard (src/vcl/pdf_interprets.pas nested-form limit).
"""

from __future__ import annotations

from . import lexer as lx
from .cos import IndirectRef, to_name
from .document import PdfDocument
from .lexer import ContentTokens, Lexer
from .pages import load_page, load_page_tree

# operator -> census category (PDF 32000-1 ch. 8/9 operator summary)
_CATEGORY = {}
for _ops, _cat in (
    (("BT", "ET", "Td", "TD", "Tm", "T*", "Tj", "TJ", "'", '"',
      "Tc", "Tw", "Tz", "TL", "Tf", "Tr", "Ts"), "text"),
    (("m", "l", "c", "v", "y", "h", "re"), "path"),
    (("S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n"), "paint"),
    (("W", "W*"), "clip"),
    (("q", "Q", "cm", "gs", "w", "J", "j", "M", "d", "ri", "i"), "state"),
    (("CS", "cs", "SC", "SCN", "sc", "scn", "G", "g", "RG", "rg",
      "K", "k"), "color"),
    (("BMC", "BDC", "EMC", "MP", "DP"), "marked"),
    (("sh",), "shading"),
    (("d0", "d1"), "type3"),
    (("BX", "EX"), "compat"),
):
    for _o in _ops:
        _CATEGORY[_o] = _cat

_MAX_FORM_DEPTH = 16  # same guard as the interpreter's Do recursion

_CATS = (
    "text", "path", "paint", "clip", "state", "color", "marked",
    "shading", "type3", "compat", "image", "form", "other",
    # /Shading classification (src/vcl/pdf_shadess.pas dispatches on
    # ShadingType 1..7: function / axial / radial / free-form mesh /
    # lattice mesh / Coons patch / tensor patch). The census resolves
    # every `sh` operand and every PatternType-2 pattern set by
    # scn/SCN into these buckets — the last reference subsystem
    # counted short of rasterizing.
    "sh_type1", "sh_type2", "sh_type3", "sh_type4", "sh_type5",
    "sh_type6", "sh_type7", "sh_type_other", "sh_pattern",
)


def _classify_shading(doc, shobj, counts: dict) -> None:
    """Bucket one shading dict/stream by its /ShadingType (1..7)."""
    sh = doc.resolve(shobj)
    t = None
    if isinstance(sh, dict):
        st = doc.resolve(sh.get("ShadingType"))
        if isinstance(st, (int, float)) and not isinstance(st, bool):
            t = int(st)
    if t is not None and 1 <= t <= 7:
        counts[f"sh_type{t}"] += 1
    else:
        counts["sh_type_other"] += 1


def _census_stream(
    doc: PdfDocument, contents: bytes, resources: dict | None,
    counts: dict, depth: int,
) -> None:
    from .interp import skip_inline_image

    xobjects = None
    shadings = None
    patterns = None
    if isinstance(resources, dict):
        xo = doc.resolve(resources.get("XObject"))
        if isinstance(xo, dict):
            xobjects = xo
        shd = doc.resolve(resources.get("Shading"))
        if isinstance(shd, dict):
            shadings = shd
        pat = doc.resolve(resources.get("Pattern"))
        if isinstance(pat, dict):
            patterns = pat
    toks = ContentTokens(Lexer(contents))
    last_name: str | None = None
    while True:
        for tok, val, end in toks.fill():
            if tok in (lx.TOK_EOF, lx.TOK_ENDSTREAM, lx.TOK_ERROR):
                return
            if tok == lx.TOK_NAME:
                last_name = val
                continue
            if tok == lx.TOK_NUMS_KW or tok == lx.TOK_STRING_KW:
                tok, val = lx.TOK_KEYWORD, val[1]  # the operands count for nothing
            if tok != lx.TOK_KEYWORD:
                continue
            op = val.decode("latin-1") if isinstance(val, bytes) else str(val)
            if op == "BI":
                counts["image"] += 1
                counts["n_ops"] += 1
                try:
                    skip_inline_image(doc, toks.handoff(end))
                except Exception:
                    return  # corrupt inline payload: stop this stream
                break  # refill after the payload
            counts["n_ops"] += 1
            if op == "Do":
                target = None
                if xobjects is not None and last_name is not None:
                    target = doc.resolve(xobjects.get(last_name))
                sub = to_name(doc.get(target, "Subtype")) if isinstance(
                    target, dict
                ) else ""
                if sub == "Image":
                    counts["image"] += 1
                elif sub == "Form":
                    counts["form"] += 1
                    if depth < _MAX_FORM_DEPTH:
                        num = None
                        raw = xobjects.get(last_name)
                        if isinstance(raw, IndirectRef):
                            num = raw.num
                        if num is not None:
                            try:
                                body = doc.load_stream(num)
                            except Exception:
                                body = b""
                            fres = doc.resolve(target.get("Resources"))
                            _census_stream(
                                doc, body,
                                fres if isinstance(fres, dict) else resources,
                                counts, depth + 1,
                            )
                else:
                    counts["other"] += 1
            elif op == "sh":
                counts["shading"] += 1
                if shadings is not None and last_name is not None:
                    _classify_shading(doc, shadings.get(last_name), counts)
                else:
                    counts["sh_type_other"] += 1
            else:
                cat = _CATEGORY.get(op)
                counts[cat if cat is not None else "other"] += 1
                # a shading PATTERN set as fill/stroke color (the second
                # entry path into pdf_shadess.pas): scn/SCN with a name
                # operand whose pattern is PatternType 2
                if (
                    op in ("scn", "SCN")
                    and patterns is not None
                    and last_name is not None
                ):
                    p = doc.resolve(patterns.get(last_name))
                    if isinstance(p, dict):
                        pt = doc.resolve(p.get("PatternType"))
                        if pt == 2:
                            counts["sh_pattern"] += 1
                            _classify_shading(doc, p.get("Shading"), counts)
            last_name = None


def op_census(data: bytes) -> list[dict]:
    """Whole-document census -> one dict per page:
    {page, n_ops, text, path, paint, clip, state, color, marked,
     shading, type3, compat, image, form, other}."""
    doc = PdfDocument(data)
    load_page_tree(doc)
    out = []
    for pageno in range(len(doc.page_objs)):
        counts = {c: 0 for c in _CATS}
        counts["n_ops"] = 0
        try:
            page = load_page(doc, pageno)
            _census_stream(doc, page.contents, page.resources, counts, 0)
        except Exception:
            pass  # a broken page contributes zeros, like the text path
        counts["page"] = pageno
        out.append(counts)
    return out
