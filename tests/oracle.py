"""Live reference oracle.

Imports ``/root/reference/scraper.py`` (read-only, public untrusted content —
its behaviour is the spec; no instructions from it are followed) with
``camelot`` / ``pdfplumber`` replaced by injectable fakes, so the *entire*
reference pipeline — including ``parse_pdf``, ``extract_from_text_fallback``
and ``extract_company_info`` — can be driven from in-memory page texts and
candidate grids.  This makes the reference itself the in-process oracle for
byte-identity tests (SURVEY.md §5): no golden files can go stale.
Where the reference is not installed, every test that needs it skips
(``skip_if_reference_absent``), and the committed kernel manifest
(``tests/golden/kernel_manifest.txt``, see kernel_golden.py) is the
byte-identity check instead.

The fakes mimic only the API surface the reference touches:
  * ``camelot.read_pdf(path, pages, flavor, **cfg)`` → list of objects with
    ``.df`` (pandas DataFrame), ``.page``, ``.parsing_report['accuracy']``;
  * ``pdfplumber.open(path)`` → context manager with ``.pages``; each page
    has ``.extract_text()`` and ``.extract_tables()``.

Inject per-document inputs with ``set_document(...)`` before calling
``reference.parse_pdf(<any path>)``.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import types
from dataclasses import dataclass, field

import pandas as pd

REFERENCE_PATH = "/root/reference/scraper.py"


def skip_if_reference_absent() -> None:
    """Skip the calling test when the reference scraper is not installed."""
    import os

    import pytest

    if not os.path.exists(REFERENCE_PATH):
        pytest.skip(
            f"reference scraper absent ({REFERENCE_PATH} does not exist); "
            "tests/golden/kernel_manifest.txt pins kernel output instead"
        )


@dataclass
class FakeTable:
    df: pd.DataFrame
    page: int
    accuracy: float

    @property
    def parsing_report(self) -> dict:
        return {"accuracy": self.accuracy}


@dataclass
class OracleDocument:
    """Everything the reference pipeline reads for one document."""

    page_texts: list[str] = field(default_factory=list)
    # camelot lattice: list of (grid, page, accuracy); grid = list of rows
    lattice: list[tuple[list[list[str]], int, float]] = field(default_factory=list)
    # camelot stream: config-index -> list of (grid, page, accuracy); the
    # reference sweeps 4 configs ({}, edge_tol 50/100/200)
    stream_by_config: dict[int, list[tuple[list[list[str]], int, float]]] = field(
        default_factory=dict
    )
    # pdfplumber page.extract_tables(): per page, list of raw tables
    # (header row included — the reference pops it into DataFrame columns)
    plumber_tables: list[list[list[list[str | None]]]] = field(default_factory=list)


_current: OracleDocument = OracleDocument()

_STREAM_CONFIG_KEYS = [
    (),
    (("edge_tol", 50), ("row_tol", 10), ("column_tol", 5)),
    (("edge_tol", 100), ("row_tol", 15), ("column_tol", 10)),
    (("edge_tol", 200), ("row_tol", 20), ("column_tol", 15)),
]


def set_document(doc: OracleDocument) -> None:
    global _current
    _current = doc


def _grids_to_tables(entries) -> list[FakeTable]:
    return [
        FakeTable(df=pd.DataFrame(grid), page=page, accuracy=acc)
        for grid, page, acc in entries
    ]


def _fake_read_pdf(path, pages="all", flavor="lattice", strip_text=None, **cfg):
    if flavor == "lattice":
        return _grids_to_tables(_current.lattice)
    key = tuple(sorted(cfg.items()))
    for idx, ck in enumerate(_STREAM_CONFIG_KEYS):
        if key == tuple(sorted(ck)):
            return _grids_to_tables(_current.stream_by_config.get(idx, []))
    raise AssertionError(f"unexpected stream config {cfg!r}")


class _FakePage:
    def __init__(self, text: str, tables: list):
        self._text = text
        self._tables = tables

    def extract_text(self):
        return self._text

    def extract_tables(self):
        return self._tables


class _FakePdf:
    def __init__(self):
        texts = _current.page_texts
        tables = _current.plumber_tables
        self.pages = [
            _FakePage(texts[i] if i < len(texts) else "",
                      tables[i] if i < len(tables) else [])
            for i in range(max(len(texts), len(tables)))
        ]

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _install_fakes() -> None:
    camelot = types.ModuleType("camelot")
    camelot.read_pdf = _fake_read_pdf
    plumber = types.ModuleType("pdfplumber")
    plumber.open = lambda path: _FakePdf()
    sys.modules["camelot"] = camelot
    sys.modules["pdfplumber"] = plumber


def load_reference():
    """Import the reference scraper with fakes installed (cached)."""
    if "reference_scraper" in sys.modules:
        return sys.modules["reference_scraper"]
    _install_fakes()
    spec = importlib.util.spec_from_file_location("reference_scraper", REFERENCE_PATH)
    module = importlib.util.module_from_spec(spec)
    sys.modules["reference_scraper"] = module
    spec.loader.exec_module(module)
    import logging

    logging.getLogger("reference_scraper").setLevel(logging.ERROR)
    return module


def run_reference(doc: OracleDocument) -> dict:
    """Run the full reference ``parse_pdf`` pipeline on injected inputs."""
    ref = load_reference()
    set_document(doc)
    return ref.parse_pdf("<in-memory>")


def run_reference_subprocess(
    docs: list[OracleDocument], filenames: list[str], hashseed: str = "0"
) -> list[dict]:
    """Run the oracle in a child process under a pinned PYTHONHASHSEED —
    needed when comparing against Spark executor output, whose workers
    are pinned to the same seed (SURVEY.md §1.4)."""
    skip_if_reference_absent()
    import json
    import os
    import subprocess
    import sys

    payload = [
        {
            "page_texts": d.page_texts,
            "lattice": [list(t) for t in d.lattice],
            "stream_by_config": {
                str(k): [list(t) for t in v] for k, v in d.stream_by_config.items()
            },
            "filename": fn,
        }
        for d, fn in zip(docs, filenames)
    ]
    env = dict(os.environ, PYTHONHASHSEED=hashseed)
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cli.py")],
        input=json.dumps(payload, ensure_ascii=False),
        capture_output=True,
        text=True,
        env=env,
        check=True,
    )
    return json.loads(proc.stdout)


# ---------------------------------------------------------------------------
# Frozen PDF front-end
#
# pdf_reader's object lexer and parser, content interpreter, per-tolerance
# line clustering and lattice cell scan as they stood before the one-match-
# per-operation rewrite: a character-loop lexer, a content loop that runs
# once per token, a sort per row tolerance and two linear scans per run.
# tests/test_pdf_differential.py holds the rewrite to these outputs, or to
# their exception type and message.  Test oracle only: package code never
# imports it.  Types and helpers the rewrite did not change (Ref, PdfError,
# TextRun, Segment, stream_tables, ...) come from the package, so results
# compare with ``==``.
# ---------------------------------------------------------------------------

import re  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extractor2_spark.operators.document import CandidateTable, DocumentIR  # noqa: E402
from pdf_extractor2_spark.operators.grids import Grid  # noqa: E402,F401
from pdf_extractor2_spark.sources.pdf_reader import (  # noqa: E402
    STREAM_CONFIGS,
    PdfError,
    Ref,
    Segment,
    TextRun,
    _accuracy,
    _bounded_inflate,
    stream_tables,
)

_OLD_WS = b"\x00\t\n\x0c\r "
_OLD_DELIM = b"()<>[]{}/%"


class OldLexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _OLD_WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def peek_bytes(self, k: int) -> bytes:
        return self.data[self.pos : self.pos + k]

    def read_token(self) -> bytes:
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise PdfError("eof")
        c = d[self.pos]
        if c == 0x3C and self.pos + 1 < n and d[self.pos + 1] == 0x3C:
            self.pos += 2
            return b"<<"
        if c == 0x3E and self.pos + 1 < n and d[self.pos + 1] == 0x3E:
            self.pos += 2
            return b">>"
        if c in b"[]<>(){}":
            self.pos += 1
            return bytes([c])
        if c == 0x2F:  # name
            start = self.pos
            self.pos += 1
            while self.pos < n and d[self.pos] not in _OLD_WS and d[self.pos] not in _OLD_DELIM:
                self.pos += 1
            return d[start : self.pos]
        start = self.pos
        while self.pos < n and d[self.pos] not in _OLD_WS and d[self.pos] not in _OLD_DELIM:
            self.pos += 1
        if self.pos == start:
            raise PdfError(f"lex stall at {self.pos}")
        return d[start : self.pos]

    def read_literal_string(self) -> bytes:
        # called with pos just after '('
        d, n = self.data, len(self.data)
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash
                e = d[self.pos]
                self.pos += 1
                mapped = {
                    0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                    0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C,
                }.get(e)
                if mapped is not None:
                    out.append(mapped)
                elif 0x30 <= e <= 0x37:  # octal
                    oct_digits = chr(e)
                    while len(oct_digits) < 3 and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits += chr(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        raise PdfError("unterminated string")

    def read_hex_string(self) -> bytes:
        # called with pos just after '<'
        end = self.data.index(b">", self.pos)
        hexpart = re.sub(rb"\s", b"", self.data[self.pos : end])
        self.pos = end + 1
        if len(hexpart) % 2:
            hexpart += b"0"
        return bytes.fromhex(hexpart.decode("ascii"))


_OLD_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")


def old_parse_value(lx: OldLexer):
    tok = lx.read_token()
    return old_parse_value_tok(lx, tok)


def old_parse_value_tok(lx: OldLexer, tok: bytes):
    if tok == b"<<":
        d = {}
        while True:
            key = lx.read_token()
            if key == b">>":
                return d
            if not key.startswith(b"/"):
                raise PdfError(f"bad dict key {key!r}")
            d[key[1:].decode("latin-1")] = old_parse_value(lx)
    if tok == b"[":
        arr = []
        while True:
            lx._skip_ws()
            if lx.peek_bytes(1) == b"]":
                lx.pos += 1
                return arr
            arr.append(old_parse_value(lx))
    if tok == b"(":
        return lx.read_literal_string()
    if tok == b"<":
        return lx.read_hex_string()
    if tok.startswith(b"/"):
        return ("name", tok[1:].decode("latin-1"))
    if tok in (b"true", b"false"):
        return tok == b"true"
    if tok == b"null":
        return None
    if _OLD_NUM_RE.match(tok):
        # possible reference: NUM GEN R
        save = lx.pos
        if b"." not in tok:
            try:
                t2 = lx.read_token()
                if _OLD_NUM_RE.match(t2) and b"." not in t2:
                    t3 = lx.read_token()
                    if t3 == b"R":
                        return Ref(int(tok), int(t2))
                lx.pos = save
            except PdfError:
                lx.pos = save
            return int(tok)
        return float(tok)
    raise PdfError(f"unexpected token {tok!r}")


class OldPdfDocument:
    def __init__(self, data: bytes):
        if data[:5] != b"%PDF-":
            raise PdfError("not a PDF")
        self.data = data
        self.trailer: dict = {}
        # num -> ("direct", offset) | ("objstm", stm_num, index)
        self._xref: dict[int, tuple] = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._load_xref()

    # -- xref ---------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-256:]
        m = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not m:
            raise PdfError("no startxref")
        pos = int(m[-1].group(1))
        seen: set[int] = set()
        while pos not in seen:
            seen.add(pos)
            prev = self._load_xref_section(pos)
            if prev is None:
                break
            pos = prev

    def _load_xref_section(self, pos: int):
        lx = OldLexer(self.data, pos)
        tok = lx.read_token()
        if tok == b"xref":
            # classic table
            while True:
                save = lx.pos
                tok = lx.read_token()
                if tok == b"trailer":
                    trailer = old_parse_value(lx)
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    return trailer.get("Prev")
                first = int(tok)
                count = int(lx.read_token())
                lx._skip_ws()
                # the one change to the frozen code: entries past the end of
                # the data are empty slices that change nothing, so stop
                # there (a forged count spun for hours) and move pos as the
                # full loop would
                end = lx.pos + 20 * max(count, 0)
                for i in range(min(count, -(-(len(self.data) - lx.pos) // 20))):
                    entry = self.data[lx.pos : lx.pos + 20]
                    lx.pos += 20
                    offset, gen, kind = entry[:10], entry[11:16], entry[17:18]
                    num = first + i
                    if kind == b"n" and num not in self._xref:
                        self._xref[num] = ("direct", int(offset))
                lx.pos = end
                del save
        else:
            # xref stream: tok is the object number
            num = int(tok)
            int(lx.read_token())  # gen
            if lx.read_token() != b"obj":
                raise PdfError("bad xref stream object")
            d, raw = self._read_stream_obj(lx)
            for k, v in d.items():
                if k not in ("Type", "W", "Index", "Length", "Filter", "Size"):
                    self.trailer.setdefault(k, v)
            if "Size" in d:
                self.trailer.setdefault("Size", d["Size"])
            w = [int(x) for x in d["W"]]
            size = int(d["Size"])
            index = d.get("Index", [0, size])
            rw = sum(w)
            entries = [raw[i : i + rw] for i in range(0, len(raw), rw)]
            ei = 0
            for s in range(0, len(index), 2):
                start, cnt = int(index[s]), int(index[s + 1])
                for num2 in range(start, start + cnt):
                    if ei >= len(entries):
                        break
                    e = entries[ei]
                    ei += 1
                    fields = []
                    off = 0
                    for width in w:
                        fields.append(
                            int.from_bytes(e[off : off + width], "big") if width else 1
                        )
                        off += width
                    t, f2, f3 = fields
                    if num2 in self._xref:
                        continue
                    if t == 1:
                        self._xref[num2] = ("direct", f2)
                    elif t == 2:
                        self._xref[num2] = ("objstm", f2, f3)
            return d.get("Prev")

    # -- object resolution ----------------------------------------------------

    def _read_stream_obj(self, lx: OldLexer):
        """Parse a stream object at lx (dict already next); returns
        (dict, decoded_bytes)."""
        d = old_parse_value(lx)
        if not isinstance(d, dict):
            raise PdfError("stream without dict")
        lx._skip_ws()
        if lx.peek_bytes(6) != b"stream":
            return d, None
        lx.pos += 6
        if self.data[lx.pos : lx.pos + 2] == b"\r\n":
            lx.pos += 2
        elif self.data[lx.pos : lx.pos + 1] == b"\n":
            lx.pos += 1
        length = self.resolve(d["Length"])
        raw = self.data[lx.pos : lx.pos + int(length)]
        lx.pos += int(length)
        filt = d.get("Filter")
        if filt is not None:
            names = [filt] if not isinstance(filt, list) else filt
            for f in names:
                if f == ("name", "FlateDecode"):
                    raw = _bounded_inflate(raw)
                elif f == ("name", "ASCIIHexDecode"):
                    body = raw.split(b">")[0]
                    hexpart = re.sub(rb"\s", b"", body)
                    if len(hexpart) % 2:
                        hexpart += b"0"
                    raw = bytes.fromhex(hexpart.decode("ascii"))
                else:
                    raise PdfError(f"unsupported filter {f!r}")
        return d, raw

    def resolve(self, value):
        if isinstance(value, Ref):
            return self.get_object(value.num)
        return value

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self._xref.get(num)
        if entry is None:
            raise PdfError(f"missing object {num}")
        if entry[0] == "direct":
            lx = OldLexer(self.data, entry[1])
            onum = int(lx.read_token())
            if onum != num:
                raise PdfError(f"xref mismatch for {num}")
            int(lx.read_token())
            if lx.read_token() != b"obj":
                raise PdfError("bad obj header")
            save = lx.pos
            value = old_parse_value(lx)
            lx._skip_ws()
            if isinstance(value, dict) and lx.peek_bytes(6) == b"stream":
                lx.pos = save
                value = self._read_stream_obj(lx)  # (dict, bytes)
        else:
            _, stm_num, idx = entry
            value = self._objstm_objects(stm_num)[idx]
        self._cache[num] = value
        return value

    def _objstm_objects(self, stm_num: int) -> list:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        d, raw = self.get_object(stm_num)
        n, first = int(self.resolve(d["N"])), int(self.resolve(d["First"]))
        header = OldLexer(raw[:first])
        pairs = []
        for _ in range(n):
            onum = int(header.read_token())
            off = int(header.read_token())
            pairs.append((onum, off))
        objs = []
        for _, off in pairs:
            objs.append(old_parse_value(OldLexer(raw, first + off)))
        self._objstm_cache[stm_num] = objs
        return objs

    # -- page tree ------------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        out: list[dict] = []

        def walk(node_ref):
            node = self.resolve(node_ref)
            t = node.get("Type")
            if t == ("name", "Pages"):
                for kid in node["Kids"]:
                    walk(kid)
            else:
                out.append(node)

        walk(root["Pages"])
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, tuple):  # (dict, bytes) stream
            return contents[1]
        if isinstance(contents, list):
            parts = []
            for ref in contents:
                obj = self.resolve(ref)
                parts.append(obj[1] if isinstance(obj, tuple) else b"")
            return b"\n".join(parts)
        raise PdfError("bad /Contents")

_OLD_CONTENT_TOK = re.compile(
    rb"[\x00\t\n\x0c\r ]*"  # leading whitespace folded into the token
    rb"(?:(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<lparen>\()"
    rb"|(?P<hex><[0-9A-Fa-f\s]*>)"
    rb"|(?P<bracket>[\[\]])"
    rb"|(?P<op>[A-Za-z'\"*]+)"
    rb"|(?P<other>.))",
    re.DOTALL,
)


def old_interpret_content(content: bytes) -> tuple[list[TextRun], list[Segment]]:
    """Walk one content stream; return positioned text runs and stroked
    line segments (for ruling detection)."""
    runs: list[TextRun] = []
    segments: list[Segment] = []
    stack: list = []

    line_x = line_y = 0.0  # text line matrix origin (translation part)
    leading = 0.0
    path: list[tuple[float, float]] = []
    pending_segments: list[Segment] = []

    def shown(text_bytes: bytes) -> None:
        text = text_bytes.decode("utf-8", errors="replace")
        if text:
            runs.append(TextRun(line_x, line_y, text))

    pos, n = 0, len(content)
    arrays: list[list] = []  # nesting stack for [...] operands
    match = _OLD_CONTENT_TOK.match

    while pos < n:
        m = match(content, pos)
        if m is None:
            break
        pos = m.end()
        kind = m.lastgroup
        if kind == "num":
            value = float(m.group("num"))
            (arrays[-1] if arrays else stack).append(value)
            continue
        if kind == "lparen":
            lx = OldLexer(content, pos)
            s = lx.read_literal_string()
            pos = lx.pos
            (arrays[-1] if arrays else stack).append(s)
            continue
        if kind == "hex":
            h = m.group("hex")
            hexpart = re.sub(rb"\s", b"", h[1:-1])
            if len(hexpart) % 2:
                hexpart += b"0"
            s = bytes.fromhex(hexpart.decode("ascii"))
            (arrays[-1] if arrays else stack).append(s)
            continue
        if kind == "name":
            value = ("name", m.group("name")[1:].decode("latin-1"))
            (arrays[-1] if arrays else stack).append(value)
            continue
        if kind == "bracket":
            if m.group("bracket") == b"[":
                arrays.append([])
            elif arrays:
                arr = arrays.pop()
                (arrays[-1] if arrays else stack).append(arr)
            continue
        if kind == "other":
            continue

        op = m.group("op")
        if op == b"Tm":
            line_x, line_y = float(stack[-2]), float(stack[-1])
        elif op == b"Td":
            line_x += float(stack[-2])
            line_y += float(stack[-1])
        elif op == b"TD":
            line_x += float(stack[-2])
            line_y += float(stack[-1])
            leading = -float(stack[-1])
        elif op == b"TL":
            leading = float(stack[-1])
        elif op == b"T*":
            line_y -= leading
        elif op == b"Tj":
            shown(stack[-1])
        elif op == b"'":
            line_y -= leading
            shown(stack[-1])
        elif op == b"TJ":
            parts = [e for e in stack[-1] if isinstance(e, bytes)]
            shown(b"".join(parts))
        elif op == b"BT":
            line_x = line_y = 0.0
        elif op == b"m":
            path = [(float(stack[-2]), float(stack[-1]))]
        elif op == b"l":
            prev = path[-1] if path else (0.0, 0.0)
            pt = (float(stack[-2]), float(stack[-1]))
            pending_segments.append(Segment(prev[0], prev[1], pt[0], pt[1]))
            path.append(pt)
        elif op == b"S":
            segments.extend(pending_segments)
            pending_segments = []
            path = []
        stack.clear()

    return runs, segments


# ---------------------------------------------------------------------------
# positional clustering
# ---------------------------------------------------------------------------


def old_cluster_lines(runs: list[TextRun], row_tol: float) -> list[list[TextRun]]:
    """Group runs into lines by y (descending), tolerance-chained."""
    if not runs:
        return []
    ordered = sorted(runs, key=lambda r: (-r.y, r.x))
    lines: list[list[TextRun]] = [[ordered[0]]]
    for run in ordered[1:]:
        if lines[-1][-1].y - run.y <= row_tol:
            lines[-1].append(run)
        else:
            lines.append([run])
    return [sorted(line, key=lambda r: (r.x, -r.y)) for line in lines]


def old_lattice_tables(runs: list[TextRun], segments: list[Segment]) -> list[Grid]:
    """Ruled-table detection (camelot-lattice profile): horizontal and
    vertical rulings bound cells; runs are assigned by position."""
    EPS = 0.5
    hlines = [s for s in segments if abs(s.y0 - s.y1) < EPS]
    vlines = [s for s in segments if abs(s.x0 - s.x1) < EPS]
    if len(hlines) < 2 or len(vlines) < 2:
        return []

    # group vlines by their y-extent overlap into table regions
    regions: list[dict] = []
    for v in vlines:
        lo, hi = min(v.y0, v.y1), max(v.y0, v.y1)
        for reg in regions:
            if lo < reg["top"] + EPS and hi > reg["bot"] - EPS:
                reg["vxs"].append(v.x0)
                reg["bot"] = min(reg["bot"], lo)
                reg["top"] = max(reg["top"], hi)
                break
        else:
            regions.append({"bot": lo, "top": hi, "vxs": [v.x0]})

    tables: list[Grid] = []
    for reg in regions:
        ys = sorted(
            {round(h.y0, 1) for h in hlines if reg["bot"] - EPS <= h.y0 <= reg["top"] + EPS},
            reverse=True,
        )
        xs = sorted(set(round(x, 1) for x in reg["vxs"]))
        if len(ys) < 2 or len(xs) < 2:
            continue
        n_rows, n_cols = len(ys) - 1, len(xs) - 1
        cells: list[list[list[TextRun]]] = [
            [[] for _ in range(n_cols)] for _ in range(n_rows)
        ]
        for r in runs:
            if not (xs[0] <= r.x <= xs[-1] and ys[-1] <= r.y <= ys[0]):
                continue
            ri = next((i for i in range(n_rows) if ys[i] >= r.y > ys[i + 1]), None)
            ci = next((j for j in range(n_cols) if xs[j] <= r.x < xs[j + 1]), None)
            if ri is not None and ci is not None:
                cells[ri][ci].append(r)
        grid: Grid = []
        for ri in range(n_rows):
            row = []
            for ci in range(n_cols):
                parts = sorted(cells[ri][ci], key=lambda t: (-t.y, t.x))
                row.append("\n".join(p.text for p in parts))
            grid.append(row)
        if any(any(c for c in row) for row in grid):
            tables.append(grid)
    return tables


def old_extract_pdf(payload: bytes) -> tuple[DocumentIR, list[dict]]:
    """Parse one PDF payload into the kernel IR and its text spans.

    Spans: one per non-empty text line, offsets into the page texts
    joined by '\\n\\f\\n' (the result table's main_text).  Kind taxonomy
    per FIXTURES.md §4: heading = short ALL-CAPS line (KONTAKTER-style
    section headers), table_field = line with ≥2 positioned runs (the
    stream profile's table-row criterion), paragraph otherwise."""
    doc = OldPdfDocument(payload)
    ir = DocumentIR(stream_tables_by_config=[[] for _ in STREAM_CONFIGS])
    spans: list[dict] = []
    page_start = 0
    for pno, page in enumerate(doc.pages(), start=1):
        runs, segments = old_interpret_content(doc.page_content(page))
        lines_by_tol = {tol: old_cluster_lines(runs, tol) for tol, _ in STREAM_CONFIGS}

        # page text and spans use config 0's row tolerance (2.0)
        texts: list[str] = []
        offset = page_start
        for line_runs in lines_by_tol[2.0]:
            line = " ".join(r.text for r in line_runs)
            if line:
                if len(line) < 40 and line.isupper():
                    kind = "heading"
                elif len(line_runs) >= 2:
                    kind = "table_field"
                else:
                    kind = "paragraph"
                spans.append(
                    {"kind": kind, "start": offset, "end": offset + len(line), "text": line}
                )
            texts.append(line)
            offset += len(line) + 1
        ir.page_texts.append("\n".join(texts))
        page_start += len(ir.page_texts[-1]) + 3  # the '\n\f\n' page separator

        for grid in old_lattice_tables(runs, segments):
            ir.lattice_tables.append(
                CandidateTable(grid=grid, page=pno, method="lattice", accuracy=_accuracy(grid))
            )
        for (row_tol, col_tol), config_tables in zip(STREAM_CONFIGS, ir.stream_tables_by_config):
            for grid in stream_tables(lines_by_tol[row_tol], col_tol):
                config_tables.append(
                    CandidateTable(grid=grid, page=pno, method="stream", accuracy=_accuracy(grid))
                )
    return ir, spans
