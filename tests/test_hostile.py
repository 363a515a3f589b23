"""Hostile inputs must come back as one row inside fixed resources.

Each case builds its document and extracts it in a fresh subprocess
limited to 1 GB of address space and 5 s of CPU, so a blow-up in either
kills that process (or ends in MemoryError) instead of the test run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, resource, sys, zlib

resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
resource.setrlimit(resource.RLIMIT_CPU, (5, 5))

from delphi_pdf_parser_spark.fixtures import simple_doc
from delphi_pdf_parser_spark.pdfcore import extract_text

MB = 1 << 20
TAIL = b"BT /F1 12 Tf 72 720 Td (after) Tj ET"
case = sys.argv[1]
if case == "flate_whitespace":
    content = b" " * (50 * MB) + TAIL
    b, cat = simple_doc(
        content, filters="/FlateDecode", encoded=zlib.compress(content, 9)
    )
elif case == "comment_before_dict":
    b, cat = simple_doc(
        b"/P %" + b"c" * (20 * MB) + b"\n<< /MCID 0 >> BDC " + TAIL + b" EMC"
    )
elif case == "comment_in_inline_dict":
    b, cat = simple_doc(
        b"/P << /MCID 0 %" + b"c" * (50 * MB) + b"\n>> BDC " + TAIL + b" EMC"
    )
elif case == "hex_operand":
    content = b"<" + b"41 " * (16 * MB) + b"> BX EX " + TAIL
    b, cat = simple_doc(
        content, filters="/FlateDecode", encoded=zlib.compress(content, 9)
    )
elif case == "escaped_literal":
    content = b"(\\" + b"a" * (32 * MB) + b") BX EX " + TAIL
    b, cat = simple_doc(
        content, filters="/FlateDecode", encoded=zlib.compress(content, 9)
    )
elif case == "deep_array_content":
    b, cat = simple_doc(b"[" * 900 + b"]" * 900 + b" " + TAIL)
elif case == "deep_array_object":
    b, cat = simple_doc(TAIL, extra_stream_dict="/Deep " + "[" * 900 + "]" * 900)
elif case == "open_arrays":
    b, cat = simple_doc(TAIL + b" " + b"[" * 100000)
elif case == "open_dicts":
    b, cat = simple_doc(TAIL + b" " + b"<<" * 100000)
res = extract_text(b.build_classic(cat))
print(json.dumps([res.status, res.text, res.failures]))
"""


def _run(runner: str, case: str, timeout: int = 120):
    """The JSON that ``runner`` prints for ``case`` in a fresh subprocess."""
    env = dict(os.environ, PYTHONPATH=_REPO, OPENBLAS_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, "-c", runner, case],
        capture_output=True,
        text=True,
        cwd=_REPO,
        env=env,
        timeout=timeout,
    )
    assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
    return json.loads(proc.stdout)


@pytest.mark.parametrize(
    "case",
    [
        "flate_whitespace",
        "comment_before_dict",
        "comment_in_inline_dict",
        "hex_operand",
        "escaped_literal",
        "deep_array_content",
        "deep_array_object",
    ],
)
def test_hostile_lexing_stays_in_budget(case):
    """A 48 MB hex-string operand and a 32 MB literal with an escape
    decode at C speed, and arrays nested 900 deep, in a content stream
    or in an indirect object, parse."""
    assert _run(_RUNNER, case) == ["ok", "after\r\n", {}]


@pytest.mark.parametrize(
    "case, code",
    [
        ("open_arrays", "page_error:RecursionError"),
        ("open_dicts", "page_error:PdfSyntaxError"),
    ],
)
def test_hostile_nesting_is_one_page_error(case, code):
    """100,000 unclosed ``[`` (or ``<<``) after the text end the page in
    one typed error inside the budget, and the document still opens."""
    assert _run(_RUNNER, case) == ["ok", "", {code: 1}]


_HTML_RUNNER = r"""
import json, resource, sys

resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))

from delphi_pdf_parser_spark.htmlcore import extract_main_content
from delphi_pdf_parser_spark.operators.graphs import _page_links
from delphi_pdf_parser_spark.operators.htmlmarkdown import _render_markdown
from delphi_pdf_parser_spark.operators.htmlmeta import (
    _page_headings, _page_jsonld, _page_meta,
)
from delphi_pdf_parser_spark.operators.htmltables import _page_tables
from delphi_pdf_parser_spark.operators.robots import _parse_sitemap
from delphi_pdf_parser_spark.operators.webannotations import _annotation_rows

MB = 1 << 20
UNITS = {
    "a_href": b"<a href=x>",
    "h1": b"<h1>",
    "title": b"<title>",
    "open_quote": b"<a href='",
    "script_no_gt": b"<script ",
    "jsonld_unclosed": b"<script type='application/ld+json'>",
    "url_unclosed": b"<url>",
}
case = sys.argv[1]
if case == "tag_20mb":
    page = b"<a " + b"x" * (20 * MB) + b">"
else:
    page = UNITS[case] * (2 * MB // len(UNITS[case]))
parsers = [
    lambda: extract_main_content(page),
    lambda: _render_markdown("https://h.example/", page),
    lambda: _page_links("https://h.example/", page),
    lambda: _page_meta("https://h.example/", page),
    lambda: _page_headings("u", page),
    lambda: _page_jsonld("u", page),
    lambda: _page_tables("u", page),
    lambda: _annotation_rows("https://h.example/", page),
    lambda: _parse_sitemap("h", page),
]
counts = []
for parse in parsers:
    # at least 5 s of CPU for each parser on top of what was used so far
    ru = resource.getrusage(resource.RUSAGE_SELF)
    resource.setrlimit(resource.RLIMIT_CPU, (int(ru.ru_utime + ru.ru_stime) + 6, 1000))
    out = parse()
    counts.append(len(out) if isinstance(out, list) else 1)
print(json.dumps(counts))
"""


@pytest.mark.parametrize(
    "case",
    [
        "a_href",
        "h1",
        "title",
        "open_quote",
        "script_no_gt",
        "jsonld_unclosed",
        "url_unclosed",
        "tag_20mb",
    ],
)
def test_hostile_html_stays_in_budget(case):
    """Every HTML parser, and the sitemap parser, returns on each page
    inside 1 GB and 5 s of CPU: the one tag scanner is linear."""
    assert len(_run(_HTML_RUNNER, case, timeout=300)) == 9


_JBIG2_RUNNER = r"""
import json, resource, sys

resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
resource.setrlimit(resource.RLIMIT_CPU, (5, 5))

from delphi_pdf_parser_spark.fixtures import PdfBuilder
from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
from delphi_pdf_parser_spark.pdfcore.images import (
    extract_image, extract_images, iter_images,
)
from delphi_pdf_parser_spark.pdfcore.jbig2 import Jbig2Error, jbig2_decode

# segment 0, page info, long-form referred-segment count 0x1FFFFFFF
STREAM = bytes.fromhex("00000000" "30" "FFFFFFFF" "0000000000000000")
assert len(STREAM) == 17
if sys.argv[1] == "stream":
    try:
        jbig2_decode(STREAM)
        out = ["decoded"]
    except Jbig2Error as e:
        out = ["Jbig2Error", str(e)]
elif sys.argv[1] == "tall_region":
    from delphi_pdf_parser_spark.fixtures import _ccitt_test_bitmap, jbig2_embed

    flat = jbig2_embed(_ccitt_test_bitmap())
    # page info, then region info, both start with width 16, height 10
    size = bytes.fromhex("00000010" "0000000a")
    h_at = flat.index(size, flat.index(size) + 1) + 4
    tall = flat[:h_at] + (131082).to_bytes(4, "big") + flat[h_at + 4 :]
    assert len(tall) == 97
    out = [jbig2_decode(tall, b"", 16, 10) == jbig2_decode(flat, b"", 16, 10)]
else:
    b = PdfBuilder()
    cat = b.add("<< /Type /Catalog /Pages 2 0 R >>")
    b.add("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Resources << /XObject << /Jb 5 0 R >> >> /Contents 4 0 R >>"
    )
    b.add("<< /Length 6 >>", b"/Jb Do")
    b.add(
        "<< /Type /XObject /Subtype /Image /Width 16 /Height 10 "
        "/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /JBIG2Decode "
        f"/Length {len(STREAM)} >>",
        STREAM,
    )
    pdf = b.build_classic(cat)
    doc = PdfDocument(pdf)
    for num, obj in iter_images(doc):
        extract_image(doc, num, obj)
    out = [[im.format for im in extract_images(pdf)], sorted(doc.failures)]
print(json.dumps(out))
"""


@pytest.mark.parametrize("case", ["stream", "pdf"])
def test_hostile_jbig2_segment_header_stays_in_budget(case):
    """A 17-byte JBIG2 stream whose long-form referred-segment count
    (2^29) runs past its data is a typed error inside 1 GB and 5 s, and
    a PDF image coded with it falls back to raw passthrough."""
    out = _run(_JBIG2_RUNNER, case)
    if case == "stream":
        assert out == ["Jbig2Error", "truncated segment header"]
    else:
        assert out == [["raw"], ["image_decode_failed"]]


def test_hostile_jbig2_tall_region_stays_in_budget():
    """A 97-byte stream whose generic region is 131,082 rows tall on a
    10-row page decodes only the rows the page shows, inside 1 GB and
    5 s, to the bitmap of the same region 10 rows tall."""
    assert _run(_JBIG2_RUNNER, "tall_region") == [True]
