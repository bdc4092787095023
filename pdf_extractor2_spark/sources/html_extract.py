"""HTML payload front-end: DOM → main text + spans + table grids.

The graft obligation beyond the reference (SURVEY.md §2.9): the reference
reads only PDFs; Common-Crawl-style rows carry ``html: binary``.  This
module is a from-scratch boilerplate stripper in the Readability /
trafilatura family (text-density + link-density heuristics — public
knowledge), stdlib only so executors need no native deps.

Pipeline per document:
  1. scan (``_scan``, a ``str.find`` tag scanner) into a flat list of
     text blocks, each tagged with its element kind, ancestor chain,
     own-text length and link-text length;
  2. drop boilerplate: blocks inside nav/footer/aside/header/form, blocks
     with link density > 0.5, script/style/template content;
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
from dataclasses import dataclass, field
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
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

_LINK_DENSITY_MAX = 0.5
_MIN_BLOCK_CHARS = 3

# one-dict tag dispatch for the handler hot path: the handlers run once
# per tag event (~170/doc), and chained frozenset membership tests were
# ~6 lookups per event; a single flag-word lookup with an early return
# for unflagged tags (div/span — the majority on real pages) replaces
# them.  Semantics are IDENTICAL to the former chained tests (pinned by
# test_scanner_equivalence + the live-reference oracle e2e).
_F_SKIP, _F_BOILER, _F_A, _F_TITLE, _F_TABLE = 1, 2, 4, 8, 16
_F_TR, _F_CELL, _F_BLOCK, _F_HEADING, _F_BR = 32, 64, 128, 256, 512
_TAG_FLAGS: dict[str, int] = {}
for _t in _SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in _BOILERPLATE_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BOILER
for _t in _BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in _HEADING_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_HEADING
for _t, _f in (("a", _F_A), ("title", _F_TITLE), ("table", _F_TABLE),
               ("tr", _F_TR), ("td", _F_CELL), ("th", _F_CELL),
               ("br", _F_BR)):
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _f
del _t, _f


@dataclass
class _Block:
    kind: str  # title | heading | paragraph | table_field
    text_parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    in_boilerplate: bool = False
    in_table: bool = False

    def text(self) -> str:
        return _collapse(" ".join(self.text_parts))

    def link_density(self) -> float:
        total = sum(len(p) for p in self.text_parts)
        return self.link_chars / total if total else 0.0


def _collapse(s: str) -> str:
    return " ".join(s.split())


class _Extractor:
    """The tag, text and block state one document's events build up.

    Its three handlers take ``html.parser.HTMLParser``'s event interface,
    so the stdlib parser can drive it as well as ``_scan`` does
    (tests/oracle.py's HTMLParser driver is the oracle of
    tests/test_html.py::test_scanner_equivalence)."""

    def __init__(self) -> None:
        self.blocks: list[_Block] = []
        self.tables: list[Grid] = []
        self.title_parts: list[str] = []

        self._skip_depth = 0
        self._boiler_depth = 0
        self._role_boiler_open: dict[str, int] = {}
        self._link_depth = 0
        self._in_title = False
        self._current: _Block | None = None

        # table assembly state: a stack to tolerate (rare) nested tables
        self._table_stack: list[list[list[str]]] = []
        self._row_stack: list[list[str]] = []
        self._cell_depth = 0

    # -- tag events ---------------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        flags = _TAG_FLAGS.get(tag, 0)
        if attrs and not (flags & _F_BOILER):
            role = next((v for k, v in attrs if k == "role" and v), None)
            if role and role.strip().lower() in _BOILERPLATE_ROLES:
                self._boiler_depth += 1
                self._role_boiler_open[tag] = self._role_boiler_open.get(tag, 0) + 1
        if not flags:
            return
        if flags & _F_SKIP:
            self._skip_depth += 1
        if flags & _F_BOILER:
            self._boiler_depth += 1
        if flags & _F_A:
            self._link_depth += 1
        if flags & _F_TITLE:
            self._in_title = True
        if flags & _F_TABLE:
            self._table_stack.append([])
        if flags & _F_TR and self._table_stack:
            self._row_stack.append([])
        if flags & _F_CELL and self._row_stack:
            self._cell_depth += 1

        if flags & _F_BLOCK:
            self._flush()
            kind = "heading" if flags & _F_HEADING else (
                "table_field" if flags & _F_CELL else "paragraph"
            )
            self._current = _Block(
                kind=kind,
                in_boilerplate=self._boiler_depth > 0,
                in_table=bool(self._table_stack) and tag != "caption",
            )
        elif flags & _F_BR and self._current is not None:
            self._current.text_parts.append("\n")

    def handle_endtag(self, tag: str) -> None:
        # NOTE: no open-tag stack is kept — every piece of observable
        # state (skip/boilerplate depths, table/row/cell assembly, block
        # flushing) is keyed on the end-tag event itself, so a matching
        # stack would be dead state (profiled at ~7% of the HTML kernel:
        # an O(depth) membership scan per close tag).
        flags = _TAG_FLAGS.get(tag, 0)
        if flags & _F_BOILER:
            if self._boiler_depth:
                self._boiler_depth -= 1
        elif (self._role_boiler_open
              and self._role_boiler_open.get(tag, 0) > 0 and self._boiler_depth):
            self._role_boiler_open[tag] -= 1
            self._boiler_depth -= 1
        if not flags:
            return
        if flags & _F_SKIP and self._skip_depth:
            self._skip_depth -= 1
        if flags & _F_A and self._link_depth:
            self._link_depth -= 1
        if flags & _F_TITLE:
            self._in_title = False

        if flags & _F_CELL and self._cell_depth:
            self._cell_depth -= 1
            if self._current is not None and self._row_stack:
                self._row_stack[-1].append(self._current.text())
        if flags & _F_TR and self._row_stack:
            row = self._row_stack.pop()
            if self._table_stack:
                self._table_stack[-1].append(row)
        if flags & _F_TABLE and self._table_stack:
            rows = self._table_stack.pop()
            if rows:
                self.tables.append(normalize_grid(rows))

        if flags & _F_BLOCK:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if not data or data.isspace():  # == `not data.strip()`, no copy
            return
        if self._current is None:
            # bare text outside any block element: treat as a paragraph
            self._current = _Block(
                kind="paragraph",
                in_boilerplate=self._boiler_depth > 0,
                in_table=bool(self._table_stack),
            )
        self._current.text_parts.append(data)
        if self._link_depth:
            self._current.link_chars += len(data)

    # -- assembly -----------------------------------------------------------

    def _flush(self) -> None:
        if self._current is not None and self._current.text_parts:
            self.blocks.append(self._current)
        self._current = None


_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9\-]*")
_RAW_TEXT_TAGS = ("script", "style", "template", "noscript")
_NO_ATTRS: tuple = ()  # shared empty attrs for attribute-free tags


def _scan(html: str, h: "_Extractor") -> None:
    """Tag scanner driving the extractor's HTMLParser-style events.

    HTMLParser's regex-per-token engine was ~40% of the HTML kernel cost;
    this direct `str.find` scanner emits the identical start/end/data
    events for the constructs the extractor consumes (tags, text,
    entities, comments, doctypes, raw-text elements). Equivalence with
    HTMLParser driving the same extractor is pinned by
    tests/test_html.py::test_scanner_equivalence.
    """
    # the lowercased copy is only needed to find a raw-text element's
    # close tag (script/style/...); computing it lazily saves a full
    # O(n) pass + allocation on every script-free document
    lower: str | None = None
    i, n = 0, len(html)
    find = html.find
    while i < n:
        lt = find("<", i)
        if lt < 0:
            chunk = html[i:]
            # whitespace-only chunks are dropped by every handler path
            # (handle_data's blank check; title collapse) — skipping the
            # call is observationally identical and avoids the dispatch
            if not chunk.isspace():
                h.handle_data(unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > i:
            chunk = html[i:lt]
            if not chunk.isspace():
                h.handle_data(unescape(chunk) if "&" in chunk else chunk)
        # one char test dispatches comments/doctypes/PIs; the
        # startswith("<!--") only runs on the rare '!' branch (round 6:
        # this check used to run on EVERY tag)
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
            h.handle_data(html[lt:])
            break
        inner = html[lt + 1 : gt]
        closing = inner.startswith("/")
        m = _TAG_NAME_RE.match(inner[1:] if closing else inner)
        if not m:
            i = gt + 1  # malformed tag: dropped (HTMLParser also swallows)
            continue
        name = m.group(0).lower()
        i = gt + 1
        if closing:
            h.handle_endtag(name)
        else:
            attrs = _NO_ATTRS  # shared and immutable
            # m.end() == len(inner) ⇔ the tag carries no attribute text
            # at all — skip the three role-substring scans entirely
            if m.end() < len(inner) and (
                "role" in inner or "ROLE" in inner or "Role" in inner
            ):
                m_role = _ROLE_ATTR_RE.search(inner)
                if m_role:
                    attrs = [("role", m_role.group(1))]
            h.handle_starttag(name, attrs)
            if name in _RAW_TEXT_TAGS and not inner.endswith("/"):
                if lower is None:
                    lower = html.lower()
                close = lower.find("</" + name, i)
                if close < 0:
                    break
                gt2 = find(">", close)
                h.handle_endtag(name)
                i = gt2 + 1 if gt2 >= 0 else n


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

    parser = _Extractor()
    try:
        _scan(payload, parser)
    except Exception:
        # malformed markup: keep whatever was assembled before the error
        pass
    return _assemble(parser)


def _assemble(parser: _Extractor) -> tuple[DocumentIR, list[dict]]:
    """The IR and spans of a scanned document: main text from the title
    and the kept blocks, one lattice table per grid."""
    parser._flush()

    title = _collapse(" ".join(parser.title_parts))

    pieces: list[str] = []
    spans: list[dict] = []
    offset = 0

    def _emit(kind: str, text: str) -> None:
        nonlocal offset
        if not text:
            return
        spans.append({"kind": kind, "start": offset, "end": offset + len(text), "text": text})
        pieces.append(text)
        offset += len(text) + 1  # joined with '\n'

    if title:
        _emit("title", title)

    for block in parser.blocks:
        if block.in_boilerplate or block.in_table:
            continue
        text = block.text()
        if len(text) < _MIN_BLOCK_CHARS:
            continue
        if block.link_density() > _LINK_DENSITY_MAX:
            continue
        _emit(block.kind, text)

    # table cells appear as table_field spans (content only, not layout)
    for grid in parser.tables:
        for row in grid:
            for cell in row:
                if cell:
                    _emit("table_field", cell)

    ir = DocumentIR(
        page_texts=["\n".join(pieces)],
        lattice_tables=[
            CandidateTable(grid=grid, page=1, method="lattice", accuracy=100.0)
            for grid in parser.tables
        ],
    )
    return ir, spans
