"""HTML main-content extraction (boilerplate strip), from scratch.

The north rule's web-page half: given raw HTML bytes, produce the main
body text with navigation/footer/sidebar boilerplate removed. No HTML
library exists in this runtime, so this implements the whole chain:

1. ``scan_tags``, the one tolerant tag scanner: a single linear pass
   yielding text runs and tags that skips comments, CDATA,
   ``<!...>``/``<?...>`` and the caller's raw-text elements;
   ``pair_elements``, the one open/close pairing pass over its tags;
   ``parse_attrs``; numeric + named entities. Every HTML parser in
   ``operators`` reads pages through them (links, metadata, headings,
   tables, JSON-LD and web annotations via ``scan_bytes``),
2. block segmentation at block-level tags (p, div, li, h1-6, td, ...),
3. per-block signals: text length, anchor-text length, link density,
   tag density — the jusText/Boilerpipe family of features (public
   literature: Kohlschütter et al. 2010, Pomikálek 2011),
4. classification: long low-link-density blocks are content; short or
   link-dense blocks are boilerplate; short headline blocks survive if
   a content block follows nearby; <nav>/<header>/<footer>/<aside>
   subtrees are always boilerplate (HTML5 semantics).

Deterministic and dependency-free: same bytes -> same text everywhere,
which is what the per-url byte-identity contract requires.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Iterator

_BLOCK_TAGS = frozenset(
    "p div section article main li dd dt blockquote pre h1 h2 h3 h4 h5 h6 "
    "td th caption figcaption summary center".split()
)
_SKIP_SUBTREES = frozenset("nav header footer aside form".split())
_RAWTEXT = frozenset("script style noscript template svg".split())
_HEADING = frozenset("h1 h2 h3 h4 h5 h6".split())

_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
    "nbsp": " ", "copy": "©", "reg": "®",
    "mdash": "—", "ndash": "–", "hellip": "…",
    "lsquo": "‘", "rsquo": "’", "ldquo": "“",
    "rdquo": "”", "middot": "·", "bull": "•",
    "laquo": "«", "raquo": "»", "times": "×",
    "shy": "", "eacute": "é", "egrave": "è",
    "agrave": "à", "uuml": "ü", "ouml": "ö",
    "auml": "ä", "szlig": "ß", "ccedil": "ç",
}

_ENT_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);")
_WS_RE = re.compile(r"[ \t\r\n\f\v ]+")
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*+)"
    r"((?:[^<>'\"]++|\"[^<>\"]*+\"|'[^<>']*+')*+)(>?)"
)
_STOP_RE = re.compile(r"[>'\"]")
_SKIPS = (("<!--", "-->"), ("<![CDATA[", "]]>"), ("<!", ">"), ("<?", ">"))


def scan_tags(s: str, rawtext: frozenset) -> Iterator[tuple]:
    """Yield ``(start, end, closing, name, attrs)`` for each tag of ``s``
    and ``(start, end, False, None, None)`` for each text run, in order.

    A tag is ``<``, an optional ``/``, a lowercased name, then attribute
    text up to the first ``>`` outside quotes; an unpartnered quote ends
    no tag, and a ``<`` that starts no tag is a text run of its own.
    Comments, CDATA and ``<!...>``/``<?...>`` yield nothing, and after an
    open tag named in ``rawtext``, bar a self-closed ``<svg .../>``,
    nothing does up to its closing tag; unterminated, each runs to the
    end. Linear: ``_TAG_RE`` never walks past a ``<`` or a quoted
    ``<``/``>``, and ``walk``, which takes over there, marks each quote
    whose walk found no ``>``, so no later ``<`` walks the same quotes
    again.
    """
    n = len(s)
    pos = 0
    raw = None
    dead = bytearray(n)  # 1 at each quote whose walk ends in no tag
    stop_from, stop_at = 0, -1  # the last _STOP_RE search from a '<'

    def walk(x: int) -> int:
        """Index of the '>' that ends a tag walked from ``x``, or -1."""
        nonlocal stop_from, stop_at
        if x < n and s[x] == "<":
            # x is the first '<' after the tag's start, so it only grows
            # between calls and one search serves every x before its stop
            if not stop_from <= x <= stop_at:
                m = _STOP_RE.search(s, x)
                stop_from, stop_at = x, (m.start() if m else n)
            x = stop_at
        chain = []
        while x < n:
            q = s[x]
            if q == ">":
                return x
            if dead[x]:
                break
            chain.append(x)
            close = s.find(q, x + 1)
            if close < 0:
                break
            m = _STOP_RE.search(s, close + 1)
            x = m.start() if m else n
        for q in chain:
            dead[q] = 1
        return -1

    while pos < n:
        lt = s.find("<", pos)
        if lt != pos:
            if lt < 0:
                lt = n
            if raw is None:
                yield (pos, lt, False, None, None)
            pos = lt
            continue
        m = _TAG_RE.match(s, pos)
        if m is None:
            if s.startswith(("<!", "<?"), pos):
                for opener, closer in _SKIPS:
                    if s.startswith(opener, pos):
                        end = s.find(closer, pos + len(opener))
                        pos = (end + len(closer)) if end >= 0 else n
                        break
                continue
            end = -1
        else:
            closing, name, attrs, gt = m.groups()
            end = m.end() - 1 if gt else walk(m.end())
        if end < 0:
            if raw is None:
                yield (pos, pos + 1, False, None, None)
            pos += 1
            continue
        if not gt:
            attrs = s[m.end(2) : end]
        closing, name = closing == "/", name.lower()
        pos = end + 1
        if raw is None:
            # HTML5 honours "/>" on a foreign element: <svg/> opens no
            # raw text; <script/> and the other names ignore the slash
            if not closing and name in rawtext and not (
                name == "svg" and s[end - 1] == "/"
            ):
                raw = name
            yield (m.start(), pos, closing, name, attrs)
        elif closing and name == raw:
            raw = None
            yield (m.start(), pos, closing, name, attrs)


def pair_elements(tags: list, opens: Callable) -> Iterator[tuple]:
    """``(i, j)`` index pairs of ``tags`` (``scan_tags`` tuples): each
    open tag for which ``opens(tag)`` holds, closed by the first later
    closing tag of the same name, even past other opens. The search
    resumes after that close, and an open with no later close pairs
    with nothing: the lazy ``<x>(.*?)</x>`` rule, in one pass."""
    last = {t[3]: j for j, t in enumerate(tags) if t[2]}
    i, n = 0, len(tags)
    while i < n:
        t = tags[i]
        if not t[2] and last.get(t[3], -1) > i and opens(t):
            j = i + 1
            while not (tags[j][2] and tags[j][3] == t[3]):
                j += 1
            yield i, j
            i = j + 1
        else:
            i += 1


# name=value with the name starting at the first letter of a run of name
# characters: the same pairs as a plain `[a-zA-Z][a-zA-Z0-9:-]*\s*=`
# scan, but a run with no '=' after it is read once, not once per letter
_ATTR_RE = re.compile(
    r"(?<![a-zA-Z0-9:-])[0-9:-]*+([a-zA-Z][a-zA-Z0-9:-]*+)\s*+=\s*"
    r"""("[^"]*"|'[^']*'|[^\s>]*)"""
)


def parse_attrs(raw: str) -> dict:
    """``name=value`` pairs of a tag's decoded attribute text; names
    lowercased, quotes dropped, the last of a repeated name wins."""
    out = {}
    for m in _ATTR_RE.finditer(raw):
        v = m.group(2)
        if v[:1] in "\"'":
            v = v[1:-1]
        out[m.group(1).lower()] = v
    return out


# --- the field parsers' view of a page (links, metadata, headings,
# tables, JSON-LD): bytes read as Latin-1, so offsets are byte offsets,
# and each field decoded as UTF-8 with replacement on its own. noscript
# and svg are not raw text here: noscript bodies are real indexed markup
# when JS is off, and SVG2 <a href> anchors are real links.
_FIELD_RAWTEXT = frozenset("script style template".split())
_SPACE = tuple(" \t\n\r\f\v")
_SPACES_RE = re.compile(r"\s+")


def scan_bytes(html) -> tuple:
    """``(text, tags)`` of a page for the field parsers. A pair that is
    already scanned passes through, so one scan serves several parsers."""
    if isinstance(html, tuple):
        return html
    s = bytes(html).decode("latin-1")
    return s, list(scan_tags(s, _FIELD_RAWTEXT))


def spaced(tag: tuple) -> bool:
    """ASCII whitespace follows the name: ``<a href>``, not ``<a/x>``."""
    return tag[4].startswith(_SPACE)


def utf8(s: str) -> str:
    return s.encode("latin-1").decode("utf-8", "replace")


def attrs_of(tag: tuple) -> dict:
    return parse_attrs(utf8(tag[4]))


def clean_text(s: str) -> str:
    """Entities decoded, whitespace runs collapsed, ends stripped."""
    return _SPACES_RE.sub(" ", _decode_entities(s)).strip()


def inner_text(s: str, tags: list, i: int, j: int, markup: bool = False) -> str:
    """``clean_text`` of what lies between ``tags[i]`` and ``tags[j]``
    (``j`` may be ``len(tags)``: to the end). Every tag and every
    skipped comment or raw-text body reads as one space; with
    ``markup`` the tags other than script/style/template keep their
    source, as a title's do."""
    out, prev = [], tags[i][1]
    for k in range(i + 1, min(j, len(tags))):
        start, end, _, name, _ = tags[k]
        if start != prev:
            out.append(" ")
        prev = end
        keep = name is None or (markup and name not in _FIELD_RAWTEXT)
        out.append(s[start:end] if keep else " ")
    return clean_text(utf8("".join(out)))


def _decode_entities(s: str) -> str:
    def sub(m):
        e = m.group(1)
        if e[0] == "#":
            try:
                cp = int(e[2:], 16) if e[1] in "xX" else int(e[1:])
                return chr(cp) if 0 < cp < 0x110000 else ""
            except ValueError:
                return m.group(0)
        return _ENTITIES.get(e, _ENTITIES.get(e.lower(), m.group(0)))

    return _ENT_RE.sub(sub, s)


@dataclass
class Block:
    texts: list = field(default_factory=list)
    anchor_chars: int = 0
    tags: int = 0
    heading: bool = False

    def text(self) -> str:
        t = _WS_RE.sub(" ", "".join(self.texts)).strip()
        return t

    def n_chars(self) -> int:
        return len(self.text())

    def link_density(self) -> float:
        n = self.n_chars()
        return (self.anchor_chars / n) if n else 1.0


def _segment(html: str) -> tuple[str, list[Block]]:
    """Tokenize + segment into text blocks. Returns (title, blocks)."""
    title = ""
    blocks: list[Block] = [Block()]
    skip_depth = 0  # inside nav/header/footer/aside/form
    anchor_depth = 0
    in_title = False

    def flush(heading: bool = False):
        if blocks[-1].texts or blocks[-1].tags:
            blocks.append(Block())
        blocks[-1].heading = heading

    for start, end, closing, name, _attrs in scan_tags(html, _RAWTEXT):
        if name is None:
            if html.startswith("<", start):  # a stray '<' is text
                if skip_depth == 0 and not in_title:
                    blocks[-1].texts.append("<")
            elif skip_depth == 0:
                txt = _decode_entities(html[start:end])
                if in_title:
                    title += txt
                elif txt and not txt.isspace():
                    blocks[-1].texts.append(txt)
                    if anchor_depth > 0:
                        blocks[-1].anchor_chars += len(
                            _WS_RE.sub(" ", txt).strip()
                        )
            continue
        if name in _RAWTEXT:
            continue
        if name == "title":
            in_title = not closing
            continue
        if name in _SKIP_SUBTREES:
            if closing:
                skip_depth = max(0, skip_depth - 1)
            else:
                skip_depth += 1
            continue
        if skip_depth:
            continue
        if name == "a":
            if closing:
                anchor_depth = max(0, anchor_depth - 1)
            else:
                anchor_depth += 1
            blocks[-1].tags += 0 if closing else 1
            continue
        if name == "br":
            blocks[-1].texts.append(" ")
            continue
        if name in _BLOCK_TAGS or name == "body":
            flush(heading=(not closing and name in _HEADING))
        elif not closing:
            blocks[-1].tags += 1  # inline tags do NOT split words
    title = _WS_RE.sub(" ", _decode_entities(title)).strip()
    return title, [b for b in blocks if b.n_chars() > 0]


def extract_main_content(
    html: bytes | str,
    min_content_chars: int = 60,
    max_link_density: float = 0.33,
) -> dict:
    """-> {title, text, n_blocks, n_content_blocks}.

    Classification: a block is CONTENT if it has >= min_content_chars
    of text at link density <= max_link_density; a short heading block
    is kept when one of the next two blocks is content; everything else
    is boilerplate.
    """
    if isinstance(html, (bytes, bytearray)):
        try:
            s = bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            s = bytes(html).decode("latin-1")
    else:
        s = html
    title, blocks = _segment(s)
    content = [False] * len(blocks)
    for i, b in enumerate(blocks):
        if b.n_chars() >= min_content_chars and (
            b.link_density() <= max_link_density
        ):
            content[i] = True
    # second pass: keep headings / short lead-ins adjacent to content
    for i, b in enumerate(blocks):
        if content[i]:
            continue
        if b.link_density() > max_link_density:
            continue
        nearby = content[i + 1 : i + 3]
        if b.heading and any(nearby):
            content[i] = True
        elif b.n_chars() >= 25 and (i + 1 < len(blocks) and content[i + 1]):
            content[i] = True
    text = "\n".join(b.text() for i, b in enumerate(blocks) if content[i])
    return {
        "title": title,
        "text": text,
        "n_blocks": len(blocks),
        "n_content_blocks": sum(content),
    }
