"""Top-level extraction entry: bytes -> text (+ metrics).

Drives the same per-document pipeline as the reference's showtext loop
(src/digPdfViewer.pas:632-666): per page, load -> interpret with the text
device at CTM = identity -> serialize spans with CRLF; pages concatenate.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .cos import to_int, is_indirect
from .document import PdfDocument, PdfError
from .interp import CSI, IDENTITY, is_hidden_ocg, run_buffer, run_form_xobject
from .metadata import extract_info
from .pages import count_pages, load_page, load_page_tree
from .textdev import TextDevice


@dataclass
class ExtractResult:
    text: str = ""
    pages: list | None = None  # per-page text (text == "".join(pages))
    npages: int = 0
    n_objects: int = 0
    status: str = "ok"  # ok | repaired | failed
    error: str = ""
    failures: dict = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)
    wall_ms: int = 0


def _run_page_text(doc: PdfDocument, csi_cache: dict, pageno: int) -> str:
    page = load_page(doc, pageno)
    dev = TextDevice()
    csi = CSI(doc, dev, IDENTITY)
    csi.font_cache = csi_cache  # per-document font memo (pdf_store_s analogue)
    run_buffer(csi, page.resources, page.contents)
    csi.flush_text()
    # annotation appearance streams run after the page content
    # (pdf_run_page_with_usage, src/vcl/pdf_interprets.pas:2668-2704);
    # each appearance form is positioned by the Rect<->BBox normalization
    # matrix (pdf_transform_annot, src/vcl/fz_pdf_linkss.pas:170-189)
    for annot_ref in page.annots:
        annot = doc.resolve(annot_ref)
        if not isinstance(annot, dict):
            continue
        flags = to_int(doc.resolve(annot.get("F")))
        if flags & 0b100011:  # Invisible | Hidden | NoView
            continue
        if is_hidden_ocg(doc, annot):
            continue  # OFF optional-content annot (pdf_interprets.pas:2689)
        ap = doc.resolve(annot.get("AP"))
        if not isinstance(ap, dict):
            continue
        n_ref = ap.get("N")
        n = doc.resolve(n_ref)
        if isinstance(n, dict) and "Subtype" not in n and not doc.is_stream(n_ref):
            # appearance substates: pick the /AS one or the first
            as_name = doc.resolve(annot.get("AS"))
            n_ref = n.get(str(as_name)) if as_name else None
            if n_ref is None and n:
                n_ref = next(iter(n.values()))
            n = doc.resolve(n_ref)
        if isinstance(n, dict) and is_indirect(n_ref) and doc.is_stream(n_ref):
            annot_matrix = _transform_annot(doc, annot, n)
            acsi = CSI(doc, dev, IDENTITY)
            acsi.font_cache = csi_cache
            try:
                run_form_xobject(acsi, page.resources, n_ref, n, annot_matrix)
                acsi.flush_text()
            except Exception:
                doc.note_failure("annot_ap_error")
    dev.close()
    return dev.to_text()


def _rect4(doc, obj) -> tuple[float, float, float, float]:
    vals = [0.0, 0.0, 0.0, 0.0]
    if isinstance(obj, list):
        for i in range(min(4, len(obj))):
            v = doc.resolve(obj[i])
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                vals[i] = float(v)
    x0, y0, x1, y1 = vals
    return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))


def _transform_annot(doc, annot: dict, form: dict):
    """pdf_transform_annot: map the form's (matrix-transformed) BBox onto
    the annotation Rect -> concat(scale(w,h), translate(x,y))."""
    from .cos import to_real
    from .textdev import _concat

    rect = _rect4(doc, doc.resolve(annot.get("Rect")))
    bbox = _rect4(doc, doc.resolve(form.get("BBox")))
    m = doc.resolve(form.get("Matrix"))
    if isinstance(m, list) and len(m) >= 6:
        mat = tuple(to_real(doc.resolve(v)) for v in m[:6])
    else:
        mat = IDENTITY
    # transform bbox corners by the form matrix, take the envelope
    xs, ys = [], []
    for cx, cy in (
        (bbox[0], bbox[1]),
        (bbox[2], bbox[1]),
        (bbox[0], bbox[3]),
        (bbox[2], bbox[3]),
    ):
        xs.append(cx * mat[0] + cy * mat[2] + mat[4])
        ys.append(cx * mat[1] + cy * mat[3] + mat[5])
    bx0, bx1 = min(xs), max(xs)
    by0, by1 = min(ys), max(ys)
    try:
        w = (rect[2] - rect[0]) / (bx1 - bx0)
        h = (rect[3] - rect[1]) / (by1 - by0)
    except ZeroDivisionError:
        w = h = 1.0
    x = rect[0] - bx0
    y = rect[1] - by0
    return _concat((w, 0.0, 0.0, h, 0.0, 0.0), (1.0, 0.0, 0.0, 1.0, x, y))


def count_pages_only(data: bytes, password: bytes | str = b"") -> int:
    """Cheap page count (xref + page tree only) for chunk planning."""
    doc = PdfDocument(data, password)
    load_page_tree(doc)
    return count_pages(doc)


def extract_text_pages(
    data: bytes,
    page_lo: int,
    page_hi: int,
    want_metadata: bool = False,
    password: bytes | str = b"",
) -> ExtractResult:
    """Extract a half-open page range [page_lo, page_hi).

    Page extractions are independent by construction: each page gets a
    fresh text device (pen starts at -1,-1) and the per-document text is
    the concatenation of per-page serializations (showtext loop,
    src/digPdfViewer.pas:632-666) — so ranges reassemble exactly. A range
    with page_lo > 0 leaves the document-level failure codes to the
    range at page 0, so summing the ranges' ``failures`` counts them once.
    """
    return _extract(data, want_metadata, page_lo, page_hi, password)


def extract_text(
    data: bytes,
    want_metadata: bool = True,
    password: bytes | str = b"",
) -> ExtractResult:
    return _extract(data, want_metadata, 0, None, password)


def stat_document(data: bytes) -> ExtractResult:
    """The cheap stat pass (openfile1 shape, src/digPdfViewer.pas:177-331):
    open + xref + /Info metadata + page-tree count — no content stream is
    ever decoded or interpreted (page range [0, 0))."""
    return _extract(data, True, 0, 0)


def _extract(
    data: bytes,
    want_metadata: bool,
    page_lo: int,
    page_hi: int | None,
    password: bytes | str = b"",
) -> ExtractResult:
    res = ExtractResult()
    t0 = time.perf_counter()
    try:
        doc = PdfDocument(data, password)
    except PdfError as e:
        res.status = "failed"
        res.error = e.code
        res.failures = {e.code: 1}
        res.wall_ms = int((time.perf_counter() - t0) * 1000)
        return res
    except Exception as e:  # noqa: BLE001 - any malformed doc must not kill the batch
        res.status = "failed"
        res.error = f"open_error:{type(e).__name__}"
        res.failures = {"open_error": 1}
        res.wall_ms = int((time.perf_counter() - t0) * 1000)
        return res

    try:
        load_page_tree(doc)
    except Exception as e:
        res.status = "failed"
        res.error = getattr(e, "code", f"pagetree_error:{type(e).__name__}")
        res.failures = dict(doc.failures)
        res.failures[res.error] = res.failures.get(res.error, 0) + 1
        res.n_objects = len(doc.table)
        res.wall_ms = int((time.perf_counter() - t0) * 1000)
        return res

    # document-level codes (xref repair, page tree) stay with the range at page 0
    before = dict(doc.failures) if page_lo > 0 else {}
    res.npages = count_pages(doc)
    lo = max(0, page_lo)
    hi = res.npages if page_hi is None else min(page_hi, res.npages)
    parts: list[str] = []
    font_cache: dict = {}
    for i in range(lo, hi):
        try:
            parts.append(_run_page_text(doc, font_cache, i))
        except Exception as e:  # page-level tolerance, like the reference's
            doc.note_failure(f"page_error:{type(e).__name__}")
            parts.append("")
    res.text = "".join(parts)
    res.pages = parts
    res.n_objects = len(doc.table)
    if want_metadata:
        try:
            res.metadata = extract_info(doc)
        except Exception:
            doc.note_failure("metadata_error")
    res.failures = {
        k: n - before.get(k, 0)
        for k, n in doc.failures.items()
        if n > before.get(k, 0)
    }
    res.status = "repaired" if doc.repaired else "ok"
    res.wall_ms = int((time.perf_counter() - t0) * 1000)
    return res
