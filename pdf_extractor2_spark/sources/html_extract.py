"""HTML payload front-end: DOM → main text + spans + table grids.

The graft obligation beyond the reference (SURVEY.md §2.9): the reference
reads only PDFs; Common-Crawl-style rows carry ``html: binary``.  This
module is a from-scratch boilerplate stripper in the Readability /
trafilatura family (text-density + link-density heuristics — public
knowledge), stdlib only so executors need no native deps.

Pipeline per document:
  1. scan (``_scan``): one ``str.find`` tag scanner that keeps the tag,
     text and block state in local variables.  It has two tiers, as the
     PDF reader's content interpreter does: a fast tier takes a whole
     table cell in its one simple form, ``<td>text</td>``, in one
     compiled match; every other form goes through the generic tag
     path, the one semantic fallback.  The event sink it replaced
     (``_Extractor``, three HTMLParser-style handlers driven by the old
     scanner) lives on in tests/oracle.py as the frozen oracle of
     tests/test_html_differential.py and, driven by
     ``html.parser.HTMLParser``, of test_scanner_equivalence;
  2. drop boilerplate: blocks inside nav/footer/aside/header/form or a
     role-boilerplate container, blocks with link density > 0.5,
     script/style/template content;
  3. main text = title + kept headings/paragraphs/list items, one block
     per line (deterministic, byte-stable);
  4. spans = [{kind, start, end, text}] offsets into the main text;
  5. every <table> (boilerplate or not) yields a rectangular grid for the
     table classifiers (T1-T8) on the IR's lattice channel (page 1,
     accuracy 100.0) — the reference's lattice channel analogue.

``extract_html`` returns the kernel's ``DocumentIR`` (one page: the main
text) and the spans.

Everything here is called from inside the Arrow UDF batch loop
(plans/extract_job.py); per corpus row it runs once over a byte payload.
"""

from __future__ import annotations

import re
from html import unescape

from ..operators.document import CandidateTable, DocumentIR
from ..operators.grids import Grid, normalize_grid

_BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th caption blockquote pre dt dd figcaption".split()
)
_BOILERPLATE_TAGS = frozenset("nav footer aside header form".split())
# ARIA landmark roles that mark boilerplate containers on real pages
# (divs standing in for nav/footer/aside)
_BOILERPLATE_ROLES = frozenset(
    "navigation banner contentinfo search complementary menubar".split()
)
_ROLE_ATTR_RE = re.compile(r"""\brole\s*=\s*["']?\s*([A-Za-z\-]+)""", re.IGNORECASE)
_SKIP_TAGS = frozenset("script style template noscript svg".split())
_RAW_TEXT_TAGS = frozenset("script style template noscript".split())
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

_LINK_DENSITY_MAX = 0.5
_MIN_BLOCK_CHARS = 3

# one flag word per tag name: the scanner's generic path makes one
# lookup per tag and returns early for unflagged tags (div/span, the
# majority on real pages)
_F_SKIP, _F_BOILER, _F_A, _F_TITLE, _F_TABLE = 1, 2, 4, 8, 16
_F_TR, _F_CELL, _F_BLOCK, _F_HEADING, _F_BR, _F_RAW = 32, 64, 128, 256, 512, 1024
_TAG_FLAGS: dict[str, int] = {}
for _tags, _f in ((_SKIP_TAGS, _F_SKIP), (_RAW_TEXT_TAGS, _F_RAW), (_BOILERPLATE_TAGS, _F_BOILER),
                  (_BLOCK_TAGS, _F_BLOCK), (_HEADING_TAGS, _F_HEADING), (("a",), _F_A),
                  (("title",), _F_TITLE), (("table",), _F_TABLE), (("tr",), _F_TR),
                  (("td", "th"), _F_CELL), (("br",), _F_BR)):
    for _t in _tags:
        _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _f
del _tags, _t, _f


def _collapse(s: str) -> str:
    return " ".join(s.split())


def _keep_block(blocks: list[tuple[str, str]], kind: str, parts: list[str],
                link_chars: int) -> None:
    """Keep a finished main-text candidate (outside boilerplate and
    tables) as ``(kind, text)`` unless it is too short (empty included)
    or mostly links."""
    text = _collapse(" ".join(parts))
    if len(text) >= _MIN_BLOCK_CHARS and not (
        link_chars / sum(map(len, parts)) > _LINK_DENSITY_MAX
    ):
        blocks.append((kind, text))


_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9\-]*")
# the tag text of a start or end tag written as its bare lower-case name
# ("p", "/p") -> (closing, name, flags): one lookup in place of the name
# regex for the flagged tags and the common containers
_BARE_TAGS = {
    text: (text[0] == "/", name, _TAG_FLAGS.get(name, 0))
    for name in [*_TAG_FLAGS, *"html head body div span article section main ul ol".split()]
    for text in (name, "/" + name)
}
# the fast tier: a whole table cell in its one simple form, with no
# attributes, no markup inside and a lower-case name
_CELL_RE = re.compile(r"<td>([^<]*)</td>")


def _scan(html: str) -> tuple[list[str], list[tuple[str, str]], list[Grid]]:
    """One pass over the page: its title parts, the kept main-text blocks
    as ``(kind, text)`` and the table grids.

    A ``str.find`` tag scanner with the tag, text and block state in
    local variables.  Each tag goes through the generic path, which
    handles every form, unless it opens a cell the fast tier takes whole
    (``_CELL_RE``, inside an open row, outside title, skipped and
    role-boilerplate ``td`` content), which leaves the state exactly as
    the generic path's three events would.  Tags and text are read as
    ``html.parser.HTMLParser`` reads them (test_scanner_equivalence)."""
    title_parts: list[str] = []
    blocks: list[tuple[str, str]] = []
    tables: list[Grid] = []
    skip = boiler = link = cell_depth = 0
    in_title = False
    role_open: dict[str, int] = {}  # open role-boilerplate tags by name
    table_stack: list[list[list[str]]] = []  # a stack: tables may nest
    row_stack: list[list[str]] = []
    # the open block: kind (None when there is none), text parts, link
    # text length, and whether it is a main-text candidate (never when
    # no block is open)
    kind: str | None = None
    parts: list[str] = []
    link_chars = 0
    keep = False
    # lowercased only to find a raw-text element's close tag
    lower: str | None = None
    tail: str | None = None  # an unterminated tag and what follows it
    i, n = 0, len(html)
    find, cell, bare_tag = html.find, _CELL_RE.match, _BARE_TAGS.get
    tag_name, flags_of = _TAG_NAME_RE.match, _TAG_FLAGS.get
    try:
        while i < n:
            lt = find("<", i)
            if lt < 0:
                lt = n
            if lt > i:
                chunk = html[i:lt]
                # a blank chunk changes nothing on any path
                if not chunk.isspace():
                    data = unescape(chunk) if "&" in chunk else chunk
                    if skip:
                        pass
                    elif in_title:
                        title_parts.append(data)
                    elif data and not data.isspace():
                        if kind is None:  # bare text outside a block
                            kind, parts, link_chars = "paragraph", [], 0
                            keep = not boiler and not table_stack
                        parts.append(data)
                        if link:
                            link_chars += len(data)
                if lt == n:
                    break
            if (html.startswith("<td>", lt) and row_stack and not skip and not in_title
                    and not role_open.get("td")):
                m = cell(html, lt)
                if m:
                    if keep:
                        _keep_block(blocks, kind, parts, link_chars)
                    kind, keep = None, False
                    data = m.group(1)
                    if "&" in data:
                        data = unescape(data)
                    row_stack[-1].append(" ".join(data.split()))
                    if not boiler and not table_stack and data and not data.isspace():
                        _keep_block(blocks, "table_field", [data], len(data) if link else 0)
                    i = m.end()
                    continue
            # comments, doctypes and processing instructions are dropped
            if lt + 1 < n and html[lt + 1] in "!?":
                if html.startswith("<!--", lt):
                    end = find("-->", lt + 4)
                    i = end + 3 if end >= 0 else n
                    continue
                gt = find(">", lt)
                i = gt + 1 if gt >= 0 else n
                continue
            gt = find(">", lt)
            if gt < 0:
                tail = html[lt:]
                break
            i = gt + 1
            bare = bare_tag(html[lt + 1 : gt])
            if bare is not None:
                closing, name, flags = bare
            else:
                closing = html[lt + 1] == "/"
                m = tag_name(html, lt + 1 + closing, gt)
                if not m:
                    continue  # malformed tag: dropped (HTMLParser also swallows)
                name = m.group().lower()
                flags = flags_of(name, 0)
            if closing:
                if flags & _F_BOILER:
                    if boiler:
                        boiler -= 1
                elif role_open and role_open.get(name, 0) > 0 and boiler:
                    role_open[name] -= 1
                    boiler -= 1
                if not flags:
                    continue
                if flags & _F_SKIP and skip:
                    skip -= 1
                if flags & _F_A and link:
                    link -= 1
                if flags & _F_TITLE:
                    in_title = False
                if flags & _F_CELL and cell_depth:
                    cell_depth -= 1
                    if kind is not None and row_stack:
                        row_stack[-1].append(_collapse(" ".join(parts)))
                if flags & _F_TR and row_stack:
                    row = row_stack.pop()
                    if table_stack:
                        table_stack[-1].append(row)
                if flags & _F_TABLE and table_stack:
                    rows = table_stack.pop()
                    if rows:
                        tables.append(normalize_grid(rows))
                if flags & _F_BLOCK:
                    if keep:
                        _keep_block(blocks, kind, parts, link_chars)
                    kind, keep = None, False
                continue
            # a bare tag, or m.end() == gt: no attribute text, so no role
            if bare is None and m.end() < gt and not flags & _F_BOILER:
                inner = html[lt + 1 : gt]
                if "role" in inner or "ROLE" in inner or "Role" in inner:
                    m_role = _ROLE_ATTR_RE.search(inner)
                    if m_role and m_role.group(1).lower() in _BOILERPLATE_ROLES:
                        boiler += 1
                        role_open[name] = role_open.get(name, 0) + 1
            if not flags:
                continue
            if flags & _F_SKIP:
                skip += 1
            if flags & _F_BOILER:
                boiler += 1
            if flags & _F_A:
                link += 1
            if flags & _F_TITLE:
                in_title = True
            if flags & _F_TABLE:
                table_stack.append([])
            if flags & _F_TR and table_stack:
                row_stack.append([])
            if flags & _F_CELL and row_stack:
                cell_depth += 1
            if flags & _F_BLOCK:
                if keep:
                    _keep_block(blocks, kind, parts, link_chars)
                kind = "heading" if flags & _F_HEADING else (
                    "table_field" if flags & _F_CELL else "paragraph"
                )
                parts, link_chars = [], 0
                keep = not boiler and not (table_stack and name != "caption")
            elif flags & _F_BR and kind is not None:
                parts.append("\n")
            if flags & _F_RAW and html[gt - 1] != "/":
                # a raw-text element: its content is skipped up to its
                # close tag, which closes it as the generic path would
                if lower is None:
                    lower = html.lower()
                close = lower.find("</" + name, i)
                if close < 0:
                    break
                if role_open.get(name, 0) > 0 and boiler:
                    role_open[name] -= 1
                    boiler -= 1
                skip -= 1
                gt = find(">", close)
                i = gt + 1 if gt >= 0 else n
        if tail is not None and not skip:  # kept as text, not unescaped
            if in_title:
                title_parts.append(tail)
            else:
                if kind is None:
                    kind, parts, link_chars = "paragraph", [], 0
                    keep = not boiler and not table_stack
                parts.append(tail)
                if link:
                    link_chars += len(tail)
    except Exception:
        # malformed markup: keep whatever was assembled before the error
        pass
    if keep:
        _keep_block(blocks, kind, parts, link_chars)
    return title_parts, blocks, tables


_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE
)
_KNOWN_CHARSETS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-15": "iso-8859-15",
    "us-ascii": "ascii",
}


def decode_html_bytes(payload: bytes) -> str:
    """Charset-aware decode: honor a ``<meta charset=...>`` declaration in
    the first 2 KB when it names a supported encoding (Danish CC pages
    are frequently latin-1/cp1252); otherwise strict-try UTF-8, then
    fall back to latin-1 (never fails — every byte is mappable)."""
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        enc = _KNOWN_CHARSETS.get(m.group(1).decode("ascii", "ignore").lower())
        if enc:
            return payload.decode(enc, errors="replace")
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("latin-1")


def extract_html(payload: bytes | str) -> tuple[DocumentIR, list[dict]]:
    """Parse one HTML payload into the kernel IR (main text, table grids)
    and the spans."""
    if isinstance(payload, bytes):
        payload = decode_html_bytes(payload)
    return _assemble(*_scan(payload))


def _assemble(title_parts: list[str], blocks: list[tuple[str, str]],
              tables: list[Grid]) -> tuple[DocumentIR, list[dict]]:
    """The IR and spans of a scanned document: main text from the title,
    the kept blocks and the table cells, one line each, and one lattice
    table per grid."""
    title = _collapse(" ".join(title_parts))
    lines = [("title", title)] if title else []
    lines += blocks
    # table cells appear as table_field spans (content only, not layout)
    lines += [("table_field", c) for grid in tables for row in grid for c in row if c]
    spans: list[dict] = []
    offset = 0
    for kind, text in lines:
        spans.append({"kind": kind, "start": offset, "end": offset + len(text), "text": text})
        offset += len(text) + 1  # joined with '\n'
    ir = DocumentIR(
        page_texts=["\n".join([text for _, text in lines])],
        lattice_tables=[
            CandidateTable(grid=grid, page=1, method="lattice", accuracy=100.0)
            for grid in tables
        ],
    )
    return ir, spans
