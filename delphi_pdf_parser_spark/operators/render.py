"""Page-render sink as a Spark operator (A43): rasterize every page of
every PDF in the documents table into thumbnail-scale pixel rows — the
analytics-engine form of the reference's openfile4 render path
(src/digPdfViewer.pas:740-826): per-page PNG + deterministic pixel
digest + coverage stats, where the reference paints one page into a
TImage. Same shape as extraction: JVM %PDF prefilter, column pruning,
one mapInPandas, map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .extraction import prefilter_pdfs
from .parallelize import map_rows

RENDER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_inked", LongType()),  # non-background pixels
        StructField("ink_frac", DoubleType()),
        StructField("pixels_md5", StringType()),
        StructField("status", StringType()),
    ]
)


def _render_rows(scale: float, max_pages: int, supersample: int):
    def fn(url, html) -> list:
        import hashlib

        from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
        from delphi_pdf_parser_spark.pdfcore.pages import (
            count_pages,
            load_page_tree,
        )
        from delphi_pdf_parser_spark.pdfcore.rasterdev import (
            render_loaded_page,
        )

        try:
            doc = PdfDocument(bytes(html) if html is not None else b"")
            load_page_tree(doc)
            npages = count_pages(doc)
        except Exception:
            return [(url, -1, 0, 0, 0, 0.0, None, "failed")]
        rows = []
        for p in range(min(npages, max_pages)):
            try:
                # reuse the parsed doc: xref/page-tree work happens once
                # per document, not once per page
                w, h, pix, _fails = render_loaded_page(doc, p, scale, supersample)
                inked = int((pix != 255).any(axis=2).sum())
                rows.append(
                    (
                        url,
                        p,
                        w,
                        h,
                        inked,
                        round(inked / float(w * h), 6),
                        hashlib.md5(pix.tobytes()).hexdigest(),
                        "ok",
                    )
                )
            except Exception:
                rows.append((url, p, 0, 0, 0, 0.0, None, "failed"))
        return rows

    return fn


def render_documents(
    documents: DataFrame,
    scale: float = 0.25,
    max_pages: int = 4,
    supersample: int = 2,
) -> DataFrame:
    """-> one row per rendered page with pixel digest + ink coverage.

    Anti-aliased by DEFAULT (VERDICT r6 #6): supersample=2 renders at
    2x and box-downsamples, the coverage-averaging equivalent of the
    reference draw device's anti-aliased span blitters
    (src/vcl/draw_devicess.pas) at 4x pixel cost. Pass supersample=1
    for the exact hard-edge rasterizer the pixel-pinned tests run
    against (tests/test_raster*.py drive render_page directly in that
    mode)."""
    return map_rows(
        prefilter_pdfs(documents),
        _render_rows(scale, max_pages, supersample),
        RENDER_SCHEMA,
    )
