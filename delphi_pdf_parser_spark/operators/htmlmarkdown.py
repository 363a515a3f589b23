"""HTML -> Markdown conversion (structure-preserving extraction).

The boilerplate-strip path (`htmlcore.extract_main_content`) produces
plain text; LLM-data and RAG pipelines increasingly want the page's
STRUCTURE kept — headings, lists, links, emphasis, code, tables — in
Markdown, the lingua franca of pretraining corpora (the web analogue of
the reference's layout-preserving PDF text mode). No HTML or Markdown
library exists in this runtime, so this is a from-scratch single-pass
renderer over `htmlcore.scan_tags`, the one tag scanner every HTML
parser here uses (comments/CDATA skipped, script/style/template/title
raw text swallowed, entities decoded).

Determinism contract (same bytes -> same markdown everywhere):
inline whitespace collapses to single spaces; blocks join with one
blank line; headings map h1-h6 -> '#'*n; ul/ol items render '- ' /
'k. ' with two-space nesting indents; <a href> renders [text](href)
with href resolved RFC 3986 against the page URL; <img> renders
![alt](src); <b>/<strong> -> **, <i>/<em> -> *, inline <code> ->
backticks, <pre> -> fenced blocks with inner text verbatim (entities
decoded, whitespace kept); <blockquote> prefixes '> '; <hr> -> '---';
depth-1 <table> renders a pipe table (header separator after a <th>
row, '|' in cells escaped). Everything else contributes its text.

Scale shape: one Arrow ``mapInPandas`` pass over (url, html) —
column-pruned scan, map-only, zero shuffle; the same shape as
extract_main_content.
"""

from __future__ import annotations

from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.htmlcore import (
    _WS_RE,
    _decode_entities,
    parse_attrs,
    scan_tags,
)

from .parallelize import ensure_min_parallelism, map_rows, page_rows

MARKDOWN_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("markdown", StringType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_links", IntegerType()),
    ]
)

# title is swallowed too: it is head METADATA (extract_html_metadata's
# job), not body content — html2text-family converters drop it as well
_RAWTEXT = frozenset("script style template title".split())
_HEADING = {f"h{i}": i for i in range(1, 7)}
_BLOCK_BREAK = frozenset(
    "p div section article main dd dt figcaption summary center".split()
)


class _MD:
    """Accumulates markdown blocks during one tag walk."""

    def __init__(self, url: str):
        self.url = url
        self.blocks: list[str] = []
        self.cur: list[str] = []  # inline fragments of the open block
        self.list_stack: list = []  # ("ul",) or ["ol", counter]
        self.quote_depth = 0
        self.n_links = 0
        # inline state
        self.bold = 0
        self.ital = 0
        self.code = 0
        self.href: str | None = None
        self.link_text: list[str] = []
        # table state
        self.table_depth = 0
        self.rows: list[list[str]] = []
        self.row_has_th = False
        self.cell: list[str] | None = None

    # ---- block assembly ----------------------------------------------
    def _prefix(self) -> str:
        p = "> " * self.quote_depth
        if self.list_stack:
            ind = "  " * (len(self.list_stack) - 1)
            top = self.list_stack[-1]
            if top[0] == "ol":
                return p + ind + f"{top[1]}. "
            return p + ind + "- "
        return p

    def flush(self, prefix: str | None = None):
        txt = _WS_RE.sub(" ", "".join(self.cur)).strip()
        self.cur = []
        if not txt:
            return
        self.blocks.append((self._prefix() if prefix is None else prefix) + txt)

    def emit(self, s: str):
        (self.cell if self.cell is not None else self.cur).append(s)

    def text(self, s: str):
        if self.href is not None:
            self.link_text.append(s)
        else:
            self.emit(s)


def _render_markdown(url: str, html: bytes) -> tuple:
    try:
        s = bytes(html).decode("utf-8")
    except UnicodeDecodeError:
        s = bytes(html).decode("latin-1")
    md = _MD(url)
    pre_depth = 0
    for start, end, closing, name, attrs_raw in scan_tags(s, _RAWTEXT):
        if name is None:
            if s.startswith("<", start):  # a stray '<' is text
                md.text("<")
                continue
            txt = _decode_entities(s[start:end])
            if pre_depth:
                md.emit(txt)
            elif txt and not txt.isspace():
                md.text(txt)
            elif txt and (md.cur or md.cell or md.link_text):
                md.text(" ")  # inter-word whitespace survives
            continue
        if name in _RAWTEXT:
            continue
        # ---- tables (depth-1 only, like extract_html_tables) ----------
        if name == "table":
            if not closing:
                md.table_depth += 1
                if md.table_depth == 1:
                    md.flush()
                    md.rows = []
            else:
                if md.table_depth == 1:
                    _close_table(md)
                md.table_depth = max(0, md.table_depth - 1)
            continue
        if md.table_depth == 1:
            if name == "tr":
                if not closing:
                    md.rows.append([])
                    md.row_has_th = False
                else:
                    _close_cell(md)
                continue
            if name in ("td", "th"):
                if not closing:
                    _close_cell(md)
                    md.cell = []
                    if name == "th":
                        md.row_has_th = True
                else:
                    _close_cell(md)
                continue
            # other tags inside a depth-1 table: inline handling below
        # ---- headings --------------------------------------------------
        lvl = _HEADING.get(name)
        if lvl is not None:
            if not closing:
                md.flush()
            else:
                txt = _WS_RE.sub(" ", "".join(md.cur)).strip()
                md.cur = []
                if txt:
                    md.blocks.append("#" * lvl + " " + txt)
            continue
        # ---- lists ------------------------------------------------------
        if name in ("ul", "ol"):
            md.flush()
            if not closing:
                md.list_stack.append(["ol", 0] if name == "ol" else ["ul"])
            elif md.list_stack:
                md.list_stack.pop()
            continue
        if name == "li":
            if not closing:
                md.flush()
                if md.list_stack and md.list_stack[-1][0] == "ol":
                    md.list_stack[-1][1] += 1
            else:
                md.flush()
            continue
        if name == "blockquote":
            md.flush()
            md.quote_depth = max(
                0, md.quote_depth + (-1 if closing else 1)
            )
            continue
        if name == "hr":
            md.flush()
            md.blocks.append("---")
            continue
        if name == "br":
            md.emit(" ")
            continue
        if name == "pre":
            if not closing:
                md.flush()
                pre_depth += 1
                md.cur = []
            else:
                pre_depth = max(0, pre_depth - 1)
                if pre_depth == 0:
                    body = "".join(md.cur).strip("\n")
                    md.cur = []
                    if body:
                        md.blocks.append("```\n" + body + "\n```")
            continue
        if pre_depth:
            continue  # tags inside <pre> are dropped, text kept
        # ---- inline marks -----------------------------------------------
        if name in ("b", "strong"):
            if (not closing and md.bold == 0) or (closing and md.bold == 1):
                md.text("**")
            md.bold = max(0, md.bold + (-1 if closing else 1))
            continue
        if name in ("i", "em"):
            if (not closing and md.ital == 0) or (closing and md.ital == 1):
                md.text("*")
            md.ital = max(0, md.ital + (-1 if closing else 1))
            continue
        if name == "code":
            if (not closing and md.code == 0) or (closing and md.code == 1):
                md.text("`")
            md.code = max(0, md.code + (-1 if closing else 1))
            continue
        if name == "a":
            if not closing:
                if md.href is None:
                    href = parse_attrs(attrs_raw).get("href", "")
                    try:
                        md.href = urljoin(url, _decode_entities(href).strip())
                    except ValueError:
                        md.href = ""
                    md.link_text = []
            elif md.href is not None:
                text = _WS_RE.sub(" ", "".join(md.link_text)).strip()
                href, md.href = md.href, None
                if text and href:
                    md.emit(f"[{text}]({href})")
                    md.n_links += 1
                elif text:
                    md.emit(text)
            continue
        if name == "img":
            attrs = parse_attrs(attrs_raw)
            alt = _decode_entities(attrs.get("alt", "")).strip()
            src = attrs.get("src", "")
            try:
                src = urljoin(url, _decode_entities(src).strip())
            except ValueError:
                src = ""
            if src:
                md.emit(f"![{alt}]({src})")
            continue
        if name in _BLOCK_BREAK or name == "body":
            md.flush()
            continue
        # every other tag: transparent
    md.flush()
    out = "\n\n".join(md.blocks)
    return url, out, len(md.blocks), md.n_links


def _close_cell(md: _MD):
    if md.cell is not None and md.rows:
        txt = _WS_RE.sub(" ", "".join(md.cell)).strip().replace("|", "\\|")
        md.rows[-1].append(txt)
    md.cell = None


def _close_table(md: _MD):
    _close_cell(md)
    rows = [r for r in md.rows if r]
    md.rows = []
    if not rows:
        return
    width = max(len(r) for r in rows)
    lines = []
    for i, r in enumerate(rows):
        padded = r + [""] * (width - len(r))
        lines.append("| " + " | ".join(padded) + " |")
        if i == 0:
            lines.append("|" + " --- |" * width)
    md.blocks.append("\n".join(lines))


def _md_rows(url: str, html: bytes) -> list:
    try:
        return [_render_markdown(url, html)]
    except Exception:
        return [(url, None, 0, 0)]


def html_to_markdown(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, html) -> (url, markdown, n_blocks, n_links); one map-only
    Arrow pass behind the fan-out guard (parallelize.py)."""
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    df = ensure_min_parallelism(df)
    return map_rows(df, page_rows(_md_rows), MARKDOWN_SCHEMA)
