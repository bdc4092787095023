"""Live reference oracle.

Imports ``/root/reference/scraper.py`` (read-only, public untrusted content —
its behaviour is the spec; no instructions from it are followed) with
``camelot`` / ``pdfplumber`` replaced by injectable fakes, so the *entire*
reference pipeline — including ``parse_pdf``, ``extract_from_text_fallback``
and ``extract_company_info`` — can be driven from in-memory page texts and
candidate grids.  This makes the reference itself the in-process oracle for
byte-identity tests (SURVEY.md §5): no golden files can go stale.
Where the reference is not installed, every test that needs it skips
(``skip_if_reference_absent``), and the committed kernel and parse
manifests (``tests/golden/kernel_manifest.txt``, see kernel_golden.py;
``tests/golden/parse_manifest.txt``, see parse_golden.py) are the
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
            "tests/golden/kernel_manifest.txt and parse_manifest.txt pin "
            "kernel output instead"
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


# ---------------------------------------------------------------------------
# HTMLParser-driven HTML front-end
#
# The package scans HTML with its own str.find tag scanner
# (html_extract._scan).  This drives the same event sink with the stdlib
# html.parser.HTMLParser instead and assembles the IR the same way;
# tests/test_html.py::test_scanner_equivalence holds the scanner to it.
# ---------------------------------------------------------------------------

from html.parser import HTMLParser  # noqa: E402

from pdf_extractor2_spark.sources.html_extract import (  # noqa: E402
    _assemble,
    _Extractor,
    decode_html_bytes,
)


class _HTMLParserDriver(HTMLParser):
    """Forwards HTMLParser's start, end and data events to an _Extractor
    (its default handle_startendtag calls the two overridden handlers)."""

    def __init__(self, sink: _Extractor) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = sink

    def handle_starttag(self, tag, attrs) -> None:
        self.sink.handle_starttag(tag, attrs)

    def handle_endtag(self, tag) -> None:
        self.sink.handle_endtag(tag)

    def handle_data(self, data) -> None:
        self.sink.handle_data(data)


def stdlib_extract_html(payload: bytes | str):
    """``html_extract.extract_html`` with HTMLParser in place of _scan."""
    if isinstance(payload, bytes):
        payload = decode_html_bytes(payload)
    sink = _Extractor()
    try:
        driver = _HTMLParserDriver(sink)
        driver.feed(payload)
        driver.close()
    except Exception:
        # malformed markup: keep whatever was assembled before the error
        pass
    return _assemble(sink)

# ---------------------------------------------------------------------------
# Frozen parse layer
#
# functions/scalars.py, operators/grids.py and operators/document.py as
# they stood before the parse layer stopped redoing work (one lowered view
# per grid shared by the classifier, column finder and header skip; one
# line split per page; each repeated scalar computed once per row or
# line; role-pattern families skipped when their stems are absent).
# Copied verbatim, minus the imports and the IR dataclasses, which come
# from the package so results compare with ``==``.
# tests/test_parse_differential.py holds the live layer to these outputs.
# Test oracle only: package code never imports it.
# ---------------------------------------------------------------------------

import json  # noqa: E402
from functools import lru_cache  # noqa: E402
from typing import Optional  # noqa: E402

# -- functions/scalars.py ---------------------------------------------------

# --------------------------------------------------------------------------
# precompiled patterns
# --------------------------------------------------------------------------

_WS_RUN = re.compile(r"\s+")
_SPACE_TAB_RUN = re.compile(r"[ \t]+")
_BLANK_LINE = re.compile(r"\n\s*\n")

_PHONE_GROUPED = re.compile(r"(?:\+45\s*)?(\d{2}[\s\-]?\d{2}[\s\-]?\d{2}[\s\-]?\d{2})")
_PHONE_BARE = re.compile(r"\b(\d{8})\b")
_PHONE_SEP = re.compile(r"[\s\-]")
_PHONE_YEARLIKE = re.compile(r"(19|20)\d{2}")

# the reference's pattern, kept as the oracle of ``_scan_emails``, which
# matches the same addresses from its two halves
_EMAIL = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_EMAIL_LOCAL_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._%+-"
)
_EMAIL_DOMAIN = re.compile(r"[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_WORD_BOUNDARY = re.compile(r"\b")

_BUDGET_PATTERNS = (
    re.compile(r"(\d+(?:[,.]\d+)?\s*(?:mia|mio)\.?\s*(?:kr)?)", re.IGNORECASE),
    re.compile(r"(\d+(?:[,.]\d+)?\s*billion)", re.IGNORECASE),
    re.compile(r"(\d+(?:[,.]\d+)?\s*million)", re.IGNORECASE),
)

_DATE_MONTH_YEAR = re.compile(
    r"(jan|feb|mar|apr|maj|jun|jul|aug|sep|okt|nov|dec)[a-z]*\.?\s+\d{4}", re.IGNORECASE
)
_DATE_DAY_MONTH_YEAR = re.compile(
    r"\d{1,2}\s+(?:jan|feb|mar|apr|maj|jun|jul|aug|sep|okt|nov|dec)[a-z]*\.?\s+\d{4}",
    re.IGNORECASE,
)
_DATE_NUMERIC = re.compile(r"\d{1,2}[-./]\d{1,2}[-./]\d{4}")
_DATE_BARE_YEAR = re.compile(r"\b(20\d{2})\b")

_REGIONS = ("Hovedstaden", "Sjælland", "Syddanmark", "Midtjylland", "Nordjylland")

_STAGES = (
    "Udførelsesproces",
    "Udbudsproces",
    "Projekteringsproces",
    "Planlægningsproces",
    "Afsluttet",
    "Skitseprojekt",
    "Construction",
    "Procurement",
    "Projecting",
)

_NAME_BLACKLIST = (
    "projekt", "kontakt", "entr", "entrepren", "rådgiver", "ingeniør",
    "chef", "direktør", "a/s", "aps", "firma", "rolle", "telefon",
    "navn", "cvr", "total", "hoved", "bygge", "element", "beton",
    "tømrer", "snedker", "murer", "maler", "elektriker", "vvs",
    "tagdækning", "facade", "gulv", "vindue", "dør", "stål", "smede",
    "projektleder", "byggeleder", "sagsansvarlig", "projektchef",
    "handled", "project", "leader", "contractor", "producer",
)

_ROLE_UNINTERESTING = ("purchaser", "purchasers", "indkøber", "indkøbere")

_ROLE_PROJECT_PREFIXES = (
    "project leader", "projektleder", "project manager", "projektchef",
    "project planning leader", "production manager", "head of project",
    "byggeleder", "sagsansvarlig", "projekteringsleder",
)

_ROLE_HANDLED_PREFIX = "handled"

_ROLE_INDICATORS = (
    # English
    "contractor", "leader", "manager", "engineer",
    "director", "coordinator", "consultant", "architect",
    "supervisor", "chief", "specialist", "producer", "delivery",
    "planner", "designer", "supplier",
    # Trades/contractors (English & Danish)
    "carpenter", "tømrer", "snedker",
    "electrician", "elektriker",
    "plumber", "vvs",
    "mason", "bricklayer", "murer",
    "painter", "maler",
    "roofer", "tagger", "tagdækker",
    "blacksmith", "smed", "smede",
    "glazier", "window", "vindue",
    "flooring", "gulv",
    "facade", "facadist",
    "steel", "stål",
    "concrete", "beton",
    "landscape", "anlæg",
    "excavation", "grave",
    "tile", "flise",
    # Danish
    "entreprenør", "leder", "chef", "ingeniør", "rådgiver",
    "producent", "levering", "leverandør",
)

_ROLE_DEFAULT_PROJECT_KWS = ("leader", "leder", "manager", "chef", "head")

# single-pass alternations: `any(x in s for x in XS)` ≡ one regex search
_NAME_BLACKLIST_RE = re.compile("|".join(map(re.escape, _NAME_BLACKLIST)))
_ROLE_INDICATORS_RE = re.compile("|".join(map(re.escape, _ROLE_INDICATORS)))
_ROLE_UNINTERESTING_RE = re.compile("|".join(map(re.escape, _ROLE_UNINTERESTING)))
_ROLE_PROJECT_PREFIX_SUB_RE = re.compile(
    "|".join(map(re.escape, _ROLE_PROJECT_PREFIXES))
)
_ROLE_DEFAULT_PROJECT_RE = re.compile(
    "|".join(map(re.escape, _ROLE_DEFAULT_PROJECT_KWS))
)

_DANISH_PROJECT_ROLE_PATTERNS = (
    re.compile(r"Projektleder[^.\n]*"),
    re.compile(r"Byggeleder[^.\n]*"),
    re.compile(r"Sagsansvarlig[^.\n]*"),
    re.compile(r"Projektchef[^.\n]*"),
    re.compile(r"Projekteringsleder[^.\n]*"),
)

_DANISH_CONTRACTOR_PATTERNS = (
    re.compile(r"Totalentreprenør"),
    re.compile(r"Hovedentreprenør"),
    re.compile(r"[A-ZÆØÅ][a-zæøå]+entreprenør"),
)


# --------------------------------------------------------------------------
# P1-P2: whitespace normalization
# --------------------------------------------------------------------------

def clean_text(text: str | None) -> str:
    """Collapse all whitespace runs to single spaces (scraper.py:54-60)."""
    if text is None or not text:
        return ""
    return _WS_RUN.sub(" ", str(text).strip())


_CLEAN_MULTILINE_CACHE_MAX_CHARS = 2048


def clean_multiline(text: str | None) -> str:
    """Normalize intra-line whitespace, keep single newlines (scraper.py:62-69).

    Memoized like the other pure str kernels (same lru_cache precedent
    as ``_is_valid_person_name_core``): profiled at 110k calls / 4k
    docs with a 79% repeated-input rate — the classifier, name
    inference and role extraction all re-normalize the same cell/line
    strings within a document.  Returns an immutable str, so sharing
    the cached object is safe.

    Inputs over ``_CLEAN_MULTILINE_CACHE_MAX_CHARS`` skip the cache:
    whole-document text blocks are unique per document, and the entry
    bound alone would let a long-lived worker hold hundreds of MB."""
    if text is None or not text:
        return ""
    text = str(text)
    if len(text) > _CLEAN_MULTILINE_CACHE_MAX_CHARS:
        return _clean_multiline_body(text)
    return _clean_multiline_core(text)


def _clean_multiline_body(text: str) -> str:
    out = text.strip()
    out = _SPACE_TAB_RUN.sub(" ", out)
    return _BLANK_LINE.sub("\n", out)


_clean_multiline_core = lru_cache(maxsize=65536)(_clean_multiline_body)


# --------------------------------------------------------------------------
# P3: camelCase boundary repair
# --------------------------------------------------------------------------

def fix_camelcase_boundaries(text: str) -> str:
    """Insert a space at lower→UPPER boundaries (scraper.py:38-52).

    A space is inserted before position ``i`` iff ``text[i]`` is uppercase,
    ``text[i-1]`` is lowercase (Unicode-aware, so æøå count) and the
    character two back is not a plain ASCII space (or ``i == 1``).
    Kept as a character loop: ``str.isupper`` has no stdlib-regex
    equivalent and these strings are short (project names).
    """
    if not text or len(text) < 2:
        return text
    pieces: list[str] = []
    prev = text[0]
    pieces.append(prev)
    for i in range(1, len(text)):
        ch = text[i]
        if ch.isupper() and prev.islower() and (i == 1 or text[i - 2] != " "):
            pieces.append(" ")
        pieces.append(ch)
        prev = ch
    return "".join(pieces)


# --------------------------------------------------------------------------
# P4: person-name validator
# --------------------------------------------------------------------------

def is_valid_person_name(text: str | None) -> bool:
    """Heuristic person-name validator (scraper.py:75-116).

    Order of checks is semantically irrelevant (pure predicate) but kept
    for short-circuit cost parity: raw length 3..70 → blacklist substring
    → ALL-CAPS len>8 → 2..4 words → ≥2 capitalized → no digits → per-word
    ≥70% alphabetic for words longer than one char.

    Pure str→bool, so memoized: the same cell/line strings recur across
    the classifier, name inference and role extraction within a document.
    """
    if not text or len(text) < 3 or len(text) > 70:
        return False
    return _is_valid_person_name_core(text)


@lru_cache(maxsize=65536)
def _is_valid_person_name_core(text: str) -> bool:
    cleaned = clean_text(text)
    lowered = cleaned.lower()
    if _NAME_BLACKLIST_RE.search(lowered):
        return False

    if cleaned.isupper() and len(cleaned) > 8:
        return False

    words = cleaned.split()
    if not 2 <= len(words) <= 4:
        return False

    n_capitalized = sum(1 for w in words if w and w[0].isupper())
    if n_capitalized < 2:
        return False

    if any(c.isdigit() for c in cleaned):
        return False

    for w in words:
        if len(w) > 1:
            n_alpha = sum(1 for c in w if c.isalpha())
            if n_alpha < len(w) * 0.7:
                return False

    return True


# --------------------------------------------------------------------------
# P5-P6: phones / emails
# --------------------------------------------------------------------------

def extract_phones(text: str | None) -> list[str]:
    """Danish 8-digit phone extraction (scraper.py:118-140).

    Two passes (grouped-with-optional-+45, then bare ``\\b\\d{8}\\b``);
    candidates are rejected when they embed a year-like ``(19|20)\\d{2}``
    or when 'cvr'/'org nr' appears within the ±10-char match context.
    Ordered first-seen dedup.
    """
    if text is None or not text:
        return []
    return list(_extract_phones_core(str(text)))


@lru_cache(maxsize=65536)
def _extract_phones_core(s: str) -> tuple[str, ...]:
    found: dict[str, None] = {}
    for pat in (_PHONE_GROUPED, _PHONE_BARE):
        for m in pat.finditer(s):
            digits = _PHONE_SEP.sub("", m.group(1))
            if len(digits) != 8 or not digits.isdigit():
                continue
            if _PHONE_YEARLIKE.search(digits):
                continue
            ctx = s[max(0, m.start() - 10): m.end() + 10].lower()
            if "cvr" in ctx or "org nr" in ctx:
                continue
            found.setdefault(digits, None)
    return tuple(found)


def extract_emails(text: str | None) -> list[str]:
    """Email extraction, ``list(set(...))`` (scraper.py:142-148).

    The set round-trip makes multi-email ordering depend on the process
    hash seed — the harness pins ``PYTHONHASHSEED`` (SURVEY.md §1.4) and
    the Spark session factory pins it on workers, so driver-side oracle
    and executor-side kernel agree.
    """
    if text is None or not text:
        return []
    s = str(text)
    if "@" not in s:
        return []
    return list(set(_scan_emails(s)))


def _scan_emails(s: str) -> list[str]:
    """``_EMAIL.findall(s)`` in linear time.

    The local part cannot contain ``@``, so a match starting anywhere in
    a run of local-part characters runs to the end of that run, which
    must be an ``@``; whether the domain matches depends on that ``@``
    alone.  ``findall`` retries the domain from every ``\\b`` in the run
    (quadratic in the run length); here each ``@`` tests its domain
    once and the match starts at the leftmost ``\\b`` of the run that is
    not before the previous match's end.
    """
    found = []
    pos = 0
    at = s.find("@")
    while at != -1:
        domain = _EMAIL_DOMAIN.match(s, at + 1)
        if domain:
            start = at
            while start > pos and s[start - 1] in _EMAIL_LOCAL_CHARS:
                start -= 1
            boundary = _WORD_BOUNDARY.search(s, start, at)
            if boundary and boundary.start() < at:
                found.append(s[boundary.start():domain.end()])
                pos = domain.end()
        at = s.find("@", at + 1)  # a domain holds no "@"
    return found


# --------------------------------------------------------------------------
# P7-P10: budget / date / region / stage
# --------------------------------------------------------------------------

def extract_budget(text: str | None) -> str | None:
    """First budget-like amount; mia/mio take precedence over
    billion/million (scraper.py:670-688)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    for pat in _BUDGET_PATTERNS:
        m = pat.search(s)
        if m:
            return clean_text(m.group(1))
    return None


def extract_date(text: str | None) -> str | None:
    """First date-like string by precedence: month-abbrev+year →
    day+month+year → d/m/y numeric → bare 20xx year (scraper.py:690-717).
    Returns the matched text verbatim (never parsed to a date type)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    m = _DATE_MONTH_YEAR.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_DAY_MONTH_YEAR.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_NUMERIC.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_BARE_YEAR.search(s)
    if m:
        return m.group(1)
    return None


def extract_region(text: str | None) -> str | None:
    """First of the five Danish regions present as a *case-sensitive*
    substring (scraper.py:719-731)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    for region in _REGIONS:
        if region in s:
            return region
    return None


def extract_stage(text: str | None) -> str | None:
    """First of nine canonical stages matched case-insensitively;
    returns the canonical casing (scraper.py:733-756)."""
    if text is None or not text:
        return None
    lowered = clean_multiline(text).lower()
    for stage in _STAGES:
        if stage.lower() in lowered:
            return stage
    return None


# --------------------------------------------------------------------------
# P11: two-tier role categorizer
# --------------------------------------------------------------------------

def _segment_is_role(segment_lower: str, segment: str) -> bool:
    if segment_lower in _ROLE_PROJECT_PREFIXES or segment_lower == _ROLE_HANDLED_PREFIX:
        return False
    if _ROLE_UNINTERESTING_RE.search(segment_lower):
        return False
    if not (3 < len(segment) < 100):
        return False
    return _ROLE_INDICATORS_RE.search(segment_lower) is not None


def extract_roles_from_text(text: str | None) -> dict[str, list[str]]:
    """Categorize role mentions into project vs handled roles
    (scraper.py:150-323).

    Strategy 1 walks lines: lines that are person names / contain phones
    or emails are skipped; each line is split on '.'; each segment must
    carry a role-indicator substring; assignment precedence is
    previous-segment prefix > line prefix > leader-keyword default.
    Strategy 2 (only when strategy 1 yields nothing) applies Danish regex
    families. Caps: 5 project roles, 10 handled roles.
    """
    if text is None or not text:
        return {"project_roles": [], "handled_roles": []}

    normalized = clean_multiline(text)
    project_roles: list[str] = []
    handled_roles: list[str] = []

    for raw_line in normalized.split("\n"):
        line = raw_line.strip()
        if not line:
            continue
        if is_valid_person_name(line):
            continue
        if extract_phones(line) or extract_emails(line):
            continue

        line_lower = line.lower()
        # str.startswith on the prefix TUPLE: one C-level call
        line_is_project = line_lower.startswith(_ROLE_PROJECT_PREFIXES)
        line_is_handled = line_lower.startswith(_ROLE_HANDLED_PREFIX)

        segments = [seg.strip() for seg in line.split(".") if seg.strip()]

        for i, segment in enumerate(segments):
            segment_lower = segment.lower()
            if not _segment_is_role(segment_lower, segment):
                continue

            role = _WS_RUN.sub(" ", segment).strip()

            if i > 0:
                prev = segments[i - 1].lower().strip()
                # substring alternation subsumes the exact-membership
                # check (p == prev ⇒ p in prev) — one regex search
                if _ROLE_PROJECT_PREFIX_SUB_RE.search(prev):
                    if role and role not in project_roles:
                        project_roles.append(role)
                    continue
                if prev == _ROLE_HANDLED_PREFIX or _ROLE_HANDLED_PREFIX in prev:
                    if role and role not in handled_roles:
                        handled_roles.append(role)
                    continue

            if line_is_project:
                if role and role not in project_roles:
                    project_roles.append(role)
            elif line_is_handled:
                if role and role not in handled_roles:
                    handled_roles.append(role)
            elif _ROLE_DEFAULT_PROJECT_RE.search(segment_lower):
                if role and role not in project_roles:
                    project_roles.append(role)
            else:
                if role and role not in handled_roles:
                    handled_roles.append(role)

    if not project_roles and not handled_roles:
        for pat in _DANISH_PROJECT_ROLE_PATTERNS:
            for match in pat.findall(normalized):
                role = clean_text(match)
                if role and role not in project_roles:
                    project_roles.append(role)
        for pat in _DANISH_CONTRACTOR_PATTERNS:
            for match in pat.findall(normalized):
                role = clean_text(match)
                if role and role not in handled_roles:
                    handled_roles.append(role)

    return {"project_roles": project_roles[:5], "handled_roles": handled_roles[:10]}


# -- operators/grids.py ------------------------------------------------------

Grid = list[list[Optional[str]]]

_EMPTYISH = ("", "nan", "None")

_PROJECT_NAME_BUDGET_RE = re.compile(r"^\d+\s+(mio|mia)")
_PROJECT_NAME_DATE_RE = re.compile(r"^\d{1,2}\s+\w+\.?\s+\d{4}")
_NEWLINE_WS_RE = re.compile(r"\s*\n\s*")


def _s(cell: Optional[str]) -> str:
    """Unguarded ``str(cell)`` analogue: missing -> 'None'."""
    return "None" if cell is None else str(cell)


def normalize_grid(rows: list[list[Optional[str]]]) -> Grid:
    """Pad ragged rows to a rectangle (pandas does this on construction)."""
    if not rows:
        return []
    width = max(len(r) for r in rows)
    return [list(r) + [None] * (width - len(r)) for r in rows]


def grid_width(grid: Grid) -> int:
    return len(grid[0]) if grid else 0


# ---------------------------------------------------------------------------
# T1: table classifier
# ---------------------------------------------------------------------------

def detect_table_type(grid: Grid) -> tuple[str, float]:
    """Classify a candidate grid as contact/project/tender/unknown with a
    confidence in [0,1] (scraper.py:329-404).

    Conceptually a CASE WHEN over aggregated token counts; stays in-UDF
    because the dispatch (operators/document.py) is per-document.
    """
    if not grid or len(grid) < 2:
        return ("unknown", 0.0)

    all_text = " ".join(
        str(cell).lower() for row in grid for cell in row if cell is not None
    )

    contact = 0.0
    if "navn" in all_text or "name" in all_text:
        contact += 2.0
    if any(w in all_text for w in ("telefon", "phone", "mobil", "tlf")):
        contact += 3.0
    if "email" in all_text or "e-mail" in all_text or "mail" in all_text:
        contact += 2.0
    if (
        "rolle" in all_text
        or "role" in all_text
        or "kontaktperson" in all_text
        or "projektleder" in all_text
    ):
        contact += 2.0
    if "firma" in all_text or "company" in all_text:
        contact += 1.0

    name_count = 0
    for row in grid[:20]:
        for cell in row:
            if cell is not None and is_valid_person_name(str(cell)):
                name_count += 1
    if name_count >= 5:
        contact += 3.0
    elif name_count >= 2:
        contact += 1.0

    project = 0.0
    if "projekt" in all_text:
        project += 3.0
    if any(w in all_text for w in ("budget", "mio", "kr", "kr.")):
        project += 3.0
    if any(w in all_text for w in ("byggestart", "dato", "date", "start")):
        project += 2.0
    if "region" in all_text or "hovedstaden" in all_text:
        project += 2.0
    if any(w in all_text for w in ("stadie", "udførelse", "stage")):
        project += 2.0
    if "bæredygtighed" in all_text or "sustainability" in all_text:
        project += 2.0
    if "seneste" in all_text and "opdatering" in all_text:
        project += 1.5
    if "roller" in all_text and "projekt" in all_text:
        project += 1.0

    tender = 0.0
    if "udbud" in all_text:
        tender += 5.0
    if "licitation" in all_text:
        tender += 3.0
    if all_text.count("arkiv") >= 3:
        tender += 2.0
    if "udbudsrolle" in all_text:
        tender += 2.0

    scores = {"contact": contact, "project": project, "tender": tender}
    best = max(scores, key=scores.get)
    best_score = scores[best]
    if best_score < 3.0:
        return ("unknown", 0.0)
    return (best, min(best_score / 10.0, 1.0))


# ---------------------------------------------------------------------------
# T2-T3: column resolution
# ---------------------------------------------------------------------------

def find_column_indices(grid: Grid, keywords: list[str]) -> list[int]:
    """Columns whose first ≤5 cells contain any keyword, case-insensitive
    (scraper.py:410-426). Schema-inference analogue of column resolution."""
    hits: list[int] = []
    n_scan = min(5, len(grid))
    for col in range(grid_width(grid)):
        col_text = " ".join(
            str(grid[i][col]).lower()
            for i in range(n_scan)
            if grid[i][col] is not None
        )
        if any(kw.lower() in col_text for kw in keywords):
            hits.append(col)
    return hits


def detect_id_column(grid: Grid) -> Optional[int]:
    """Find a small-integer ID column among the first three columns
    (scraper.py:428-443): ≥3 values of ≤3 digits in the first 10 rows,
    with max-min ≤ 2×count."""
    for col in range(min(3, grid_width(grid))):
        numbers: list[int] = []
        for i in range(min(10, len(grid))):
            cell = _s(grid[i][col]).strip()
            if cell.isdigit() and len(cell) <= 3:
                numbers.append(int(cell))
        if len(numbers) >= 3:
            ordered = sorted(numbers)
            if ordered[-1] - ordered[0] <= len(numbers) * 2:
                return col
    return None


# ---------------------------------------------------------------------------
# T4: multi-row entry merge (the one stateful/order-dependent operator)
# ---------------------------------------------------------------------------

def merge_multirow_entries(grid: Grid, boundary_cols: list[int]) -> Grid:
    """Fold continuation rows into their entry row (scraper.py:445-492).

    A row starts a new entry when the ID column holds digits (if an ID
    column exists) else when the primary boundary column is non-empty.
    Continuation rows fill empty cells or append ``'\\n' + value``.

    Spark analogue: ``session_id = sum(is_new) OVER (ORDER BY row_idx)``
    then ``groupBy(session_id).agg(concat_ws)`` — kept in-UDF because
    grids are per-document and tiny (SURVEY.md §2.8).
    """
    if not grid or not boundary_cols:
        return grid

    id_col = detect_id_column(grid)
    primary = boundary_cols[0]
    width = grid_width(grid)

    merged: list[list[Optional[str]]] = []
    current: Optional[list[Optional[str]]] = None

    for row in grid:
        if id_col is not None:
            is_new = _s(row[id_col]).strip().isdigit()
        else:
            raw = _s(row[primary]) if primary < len(row) else ""
            # note: the membership test is on the *unstripped* value
            is_new = bool(raw.strip()) and raw not in _EMPTYISH

        if is_new:
            if current is not None:
                merged.append(current)
            current = list(row)
        elif current is not None:
            for col in range(width):
                value = _s(row[col]).strip()
                if value and value not in _EMPTYISH:
                    existing = _s(current[col]).strip()
                    if not existing or existing in _EMPTYISH:
                        current[col] = value
                    else:
                        current[col] = existing + "\n" + value

    if current is not None:
        merged.append(current)

    return merged if merged else grid


# ---------------------------------------------------------------------------
# header-row skip (T5)
# ---------------------------------------------------------------------------

def _header_skip(grid: Grid, keywords: tuple[str, ...], scan: int) -> int:
    """Row index after the *last* keyword-bearing row among the first
    ``scan`` rows (scraper.py:539-544, :766-771, :894-898)."""
    start = 0
    for i in range(min(scan, len(grid))):
        row_text = " ".join(
            str(cell).lower() for cell in grid[i] if cell is not None
        )
        if any(kw in row_text for kw in keywords):
            start = i + 1
    return start


# ---------------------------------------------------------------------------
# T6: contacts
# ---------------------------------------------------------------------------

def extract_contacts_from_grid(grid: Grid) -> list[dict]:
    """Contact rows with phones/emails/two-tier roles (scraper.py:494-664).

    Corpus-level shape: projection + filter + in-doc dedup, exploded to
    one row per contact by the kernel's nested-array output + F.explode.
    """
    name_cols = find_column_indices(grid, ["navn", "name"])
    phone_cols = find_column_indices(grid, ["telefon", "phone", "mobil", "phones"])
    email_cols = find_column_indices(grid, ["email", "e-mail", "mail"])
    role_cols = find_column_indices(grid, ["rolle", "role", "position", "titel", "title"])

    if not name_cols:
        counts = []
        for col in range(grid_width(grid)):
            n = sum(
                1
                for i in range(len(grid))
                if grid[i][col] is not None
                and is_valid_person_name(str(grid[i][col]))
            )
            counts.append((col, n))
        if counts:
            best_col, best_n = max(counts, key=lambda t: t[1])
            if best_n >= 3:
                name_cols = [best_col]

    if not name_cols:
        return []

    grid = merge_multirow_entries(grid, name_cols)
    id_col = detect_id_column(grid)
    start_row = _header_skip(
        grid, ("navn", "name", "firma", "telefon", "rolle", "role"), 10
    )

    contacts: list[dict] = []
    width = grid_width(grid)

    for row in grid[start_row:]:
        contact: dict = {}

        if id_col is not None and id_col < len(row):
            cid = _s(row[id_col]).strip()
            if cid.isdigit():
                contact["id"] = cid

        for nc in name_cols:
            if nc < len(row):
                name = clean_text(_s(row[nc]))
                if name and is_valid_person_name(name):
                    contact["name"] = name
                    break
        if "name" not in contact:
            continue

        all_phones: list[str] = []
        for col in list(phone_cols) + list(range(width)):
            if col < len(row) and row[col] is not None:
                all_phones.extend(extract_phones(str(row[col])))
        if all_phones:
            unique_phones = list(dict.fromkeys(all_phones))
            if len(unique_phones) == 1:
                contact["phone"] = unique_phones[0]
            else:
                contact["phones"] = unique_phones
                contact["phone"] = unique_phones[0]

        all_emails: list[str] = []
        for col in list(email_cols) + list(range(width)):
            if col < len(row) and row[col] is not None:
                all_emails.extend(extract_emails(str(row[col])))
        if all_emails:
            unique_emails = list(dict.fromkeys(all_emails))
            if len(unique_emails) == 1:
                contact["email"] = unique_emails[0]
            else:
                contact["emails"] = unique_emails
                contact["email"] = unique_emails[0]

        proj_roles: list[str] = []
        handled: list[str] = []
        if role_cols:
            for col in role_cols:
                if col < len(row) and row[col] is not None:
                    roles = extract_roles_from_text(str(row[col]))
                    proj_roles.extend(roles["project_roles"])
                    handled.extend(roles["handled_roles"])
        if not proj_roles and not handled:
            for col in range(width):
                if col not in name_cols and col not in phone_cols and row[col] is not None:
                    roles = extract_roles_from_text(str(row[col]))
                    if roles["project_roles"] or roles["handled_roles"]:
                        proj_roles.extend(roles["project_roles"])
                        handled.extend(roles["handled_roles"])
        if proj_roles:
            contact["project_roles"] = list(dict.fromkeys(proj_roles))[:5]
        if handled:
            contact["handled_roles"] = list(dict.fromkeys(handled))[:10]

        if (
            "phone" in contact
            or "email" in contact
            or "project_roles" in contact
            or "handled_roles" in contact
        ):
            contacts.append(contact)

    seen: set = set()
    unique: list[dict] = []
    for contact in contacts:
        key = (contact.get("name", ""), contact.get("phone", ""), contact.get("email", ""))
        if key not in seen:
            seen.add(key)
            unique.append(contact)
    return unique


# ---------------------------------------------------------------------------
# T7: projects
# ---------------------------------------------------------------------------

def extract_projects_from_grid(grid: Grid) -> list[dict]:
    """Project rows with budget/date/region/stage/roles (scraper.py:758-881).

    Name selection is a priority-ordered coalesce over filtered candidates;
    ``last_updated`` keeps the *last* day-month-year match among cells that
    do not mention 'byggestart'.
    """
    start_row = _header_skip(
        grid, ("projekt", "budget", "region", "rolle", "byggestart"), 10
    )
    data = grid[start_row:] if start_row < len(grid) else list(grid)
    data = merge_multirow_entries(data, [0])
    id_col = detect_id_column(data)

    projects: list[dict] = []

    for row in data:
        project: dict = {}

        if id_col is not None and id_col < len(row):
            pid = _s(row[id_col]).strip().split("\n")[0].strip()
            if pid.isdigit():
                project["id"] = pid

        cells = [
            clean_multiline(str(cell))
            for cell in row
            if cell is not None and str(cell).strip()
        ]
        if not cells:
            continue

        name = None
        for cell in cells:
            if len(cell) > 15 and not _PROJECT_NAME_BUDGET_RE.match(cell.lower()):
                if not any(
                    w in cell.lower()
                    for w in ("hovedstaden", "sjælland", "entr.", "totalentreprenør")
                ):
                    if not _PROJECT_NAME_DATE_RE.match(cell):
                        name = cell
                        break
        if not name:
            for cell in cells:
                if len(cell) > 10:
                    name = cell
                    break
        if not name:
            continue

        name = _NEWLINE_WS_RE.sub(" ", name)
        name = _WS_RUN.sub(" ", name).strip()
        project["name"] = fix_camelcase_boundaries(name)

        all_text = " ".join(cells)

        budget = extract_budget(all_text)
        if budget:
            project["budget"] = budget
        date = extract_date(all_text)
        if date:
            project["start_date"] = date
        region = extract_region(all_text)
        if region:
            project["region"] = region
        stage = extract_stage(all_text)
        if stage:
            project["stage"] = stage

        update_date = None
        for cell in cells:
            if "byggestart" not in cell.lower():
                m = _DATE_DAY_MONTH_YEAR.search(cell)
                if m:
                    update_date = clean_text(m.group(0))
        if update_date:
            project["last_updated"] = update_date

        roles = extract_roles_from_text(all_text)
        if roles["project_roles"]:
            project["project_roles"] = roles["project_roles"][:3]
        if roles["handled_roles"]:
            project["handled_roles"] = roles["handled_roles"][:5]

        if "✓" in all_text or "bæredygtighed" in all_text.lower():
            project["sustainability"] = True

        if len(project) >= 2:
            projects.append(project)

    seen: set = set()
    unique: list[dict] = []
    for project in projects:
        name_key = project.get("name", "")
        if name_key and name_key not in seen:
            seen.add(name_key)
            unique.append(project)
    return unique


# ---------------------------------------------------------------------------
# T8: tenders
# ---------------------------------------------------------------------------

def extract_tenders_from_grid(grid: Grid) -> list[dict]:
    """Tender rows (scraper.py:887-942)."""
    start_row = _header_skip(grid, ("udbud", "licitation"), 5)

    tenders: list[dict] = []
    for row in grid[start_row:]:
        tender: dict = {}
        cells = [
            clean_text(str(cell))
            for cell in row
            if cell is not None and str(cell).strip()
        ]
        if not cells:
            continue

        for cell in cells:
            if len(cell) > 10 and "arkiv" not in cell.lower():
                tender["name"] = cell
                break
        if "name" not in tender and cells:
            tender["name"] = cells[0]

        all_text = " ".join(cells)
        roles = extract_roles_from_text(all_text)
        if roles["handled_roles"]:
            tender["trade"] = roles["handled_roles"][0]
        elif roles["project_roles"]:
            tender["trade"] = roles["project_roles"][0]

        date = extract_date(all_text)
        if date:
            tender["date"] = date
        if "arkiv" in all_text.lower():
            tender["status"] = "Archived"

        if "name" in tender:
            tenders.append(tender)
    return tenders


# -- operators/document.py ---------------------------------------------------

_CVR_RE = re.compile(r"\b(\d{8})\b")
_ANY_NUM_RE = re.compile(r"\b(\d+)\b")
_URL_RE = re.compile(r"(https?://[^\s]+)")
_DIGITS_ONLY_RE = re.compile(r"^\d+$")

_COMPANY_SUFFIXES = (" A/S", " ApS", " A.S", " IVS", " I/S")

_CONTACT_SECTION_MARKERS = ("KONTAKTER", "CONTACTS", "Kontakter")
_CONTACT_TERMINATORS = (
    "PROJEKTER", "PROJECTS", "Projekter", "OPLYSNINGER", "Hubexo", "UDBUD", "Udbud",
)
_PROJECT_SECTION_MARKERS = ("PROJEKTER", "PROJECTS", "Projekter")
_PROJECT_TERMINATORS = (
    "KONTAKTER", "CONTACTS", "Kontakter", "OPLYSNINGER", "UDBUD", "Udbud",
)
_PROJECT_TRIGGER_KWS = ("opførelse", "renovering", "ombygning", "etablering")
_PROJECT_NAME_STOP_SUBSTRINGS = ("mio", "mia", "hovedstaden", "entr", "kr.")




# ---------------------------------------------------------------------------
# company info (scraper.py:1403-1454)
# ---------------------------------------------------------------------------

def extract_company_info(page_texts: list[str]) -> dict:
    """First-page company block: cvr, id_nr, email, website, phone, name —
    keys inserted in first-hit order over the first 40 lines."""
    info: dict = {}
    if not page_texts:
        return info

    for line in (page_texts[0] or "").split("\n")[:40]:
        line = line.strip()
        lowered = line.lower()

        if "cvr" in lowered or "org nr" in lowered or "org. nr" in lowered:
            m = _CVR_RE.search(line)
            if m:
                info["cvr"] = m.group(1)

        if "id nr" in lowered:
            m = _ANY_NUM_RE.search(line)
            if m:
                info["id_nr"] = m.group(1)

        if "email" not in info:
            emails = extract_emails(line)
            if emails:
                info["email"] = emails[0]

        if "http" in lowered:
            m = _URL_RE.search(line)
            if m:
                info["website"] = m.group(1)

        if "phone" not in info:
            if any(w in lowered for w in ("telefon", "phone", "tlf", "mobil")):
                if "cvr" not in lowered and "org nr" not in lowered:
                    phones = extract_phones(line)
                    if phones:
                        info["phone"] = phones[0]

        if "name" not in info:
            if any(suffix in line for suffix in _COMPANY_SUFFIXES):
                if len(line) < 80 and not line.isupper():
                    info["name"] = line

    return info


# ---------------------------------------------------------------------------
# text fallback (scraper.py:985-1154)
# ---------------------------------------------------------------------------

def _fallback_contacts_from_page(text: str, contacts: list[dict]) -> None:
    lines = text.split("\n")
    in_section = False
    current: dict | None = None

    for line in lines:
        line_clean = line.strip()

        if any(kw in line for kw in _CONTACT_SECTION_MARKERS):
            in_section = True
            continue

        if in_section and any(h in line for h in _CONTACT_TERMINATORS):
            # reference quirk (scraper.py:1009-1011 + 1087-1088): the
            # current contact is appended at the terminator AND again
            # after the loop — the duplicate only disappears in the
            # parse-level dedup; replicated for byte-identity
            if current:
                contacts.append(current)
            break

        if not in_section:
            continue

        if "Navn" in line and "Telefon" in line:
            continue

        phones_in_line = extract_phones(line)
        if phones_in_line:
            words = line_clean.split()
            candidates: list[str] = []
            for j in range(len(words) - 1):
                two = " ".join(words[j : j + 2])
                if is_valid_person_name(two):
                    candidates.append(two)
                if j < len(words) - 2:
                    three = " ".join(words[j : j + 3])
                    if is_valid_person_name(three):
                        candidates.append(three)

            if candidates:
                if current:
                    contacts.append(current)
                current = {"name": max(candidates, key=len)}
                if len(phones_in_line) == 1:
                    current["phone"] = phones_in_line[0]
                else:
                    current["phones"] = phones_in_line
                    current["phone"] = phones_in_line[0]
                emails = extract_emails(line)
                if emails:
                    current["email"] = emails[0]
                roles = extract_roles_from_text(line)
                if roles["project_roles"]:
                    current["project_roles"] = roles["project_roles"]
                if roles["handled_roles"]:
                    current["handled_roles"] = roles["handled_roles"]

        elif is_valid_person_name(line_clean):
            if current:
                contacts.append(current)
            current = {"name": line_clean}

        elif current:
            phones = extract_phones(line)
            if phones and "phone" not in current:
                if len(phones) == 1:
                    current["phone"] = phones[0]
                else:
                    current["phones"] = phones
                    current["phone"] = phones[0]
            emails = extract_emails(line)
            if emails and "email" not in current:
                current["email"] = emails[0]
            roles = extract_roles_from_text(line)
            if roles["project_roles"]:
                current.setdefault("project_roles", []).extend(roles["project_roles"])
            if roles["handled_roles"]:
                current.setdefault("handled_roles", []).extend(roles["handled_roles"])

    if current:
        contacts.append(current)


def _fallback_projects_from_page(text: str, projects: list[dict]) -> None:
    in_section = False
    for line in text.split("\n"):
        if any(kw in line for kw in _PROJECT_SECTION_MARKERS):
            in_section = True
            continue
        if in_section and any(h in line for h in _PROJECT_TERMINATORS):
            return
        if not in_section:
            continue

        if extract_budget(line) or any(
            kw in line.lower() for kw in _PROJECT_TRIGGER_KWS
        ):
            line_fixed = fix_camelcase_boundaries(line)
            name_parts: list[str] = []
            for part in line_fixed.split():
                if (
                    not _DIGITS_ONLY_RE.match(part)
                    and not any(x in part.lower() for x in _PROJECT_NAME_STOP_SUBSTRINGS)
                    and len(part) > 2
                ):
                    name_parts.append(part)
                elif name_parts:
                    break

            if not name_parts:
                continue

            project: dict = {"name": " ".join(name_parts[:15])}
            budget = extract_budget(line)
            if budget:
                project["budget"] = budget
            date = extract_date(line)
            if date:
                project["start_date"] = date
            region = extract_region(line)
            if region:
                project["region"] = region
            stage = extract_stage(line)
            if stage:
                project["stage"] = stage
            roles = extract_roles_from_text(line)
            if roles["project_roles"]:
                project["project_roles"] = roles["project_roles"][:2]
            if roles["handled_roles"]:
                project["handled_roles"] = roles["handled_roles"][:3]
            if project.get("name"):
                projects.append(project)


def extract_from_text_fallback(page_texts: list[str]) -> dict:
    """Section-scanning state machine over raw page text
    (scraper.py:985-1154); fires only on low table yield."""
    contacts: list[dict] = []
    projects: list[dict] = []
    for text in page_texts:
        text = text or ""
        if any(m in text for m in _CONTACT_SECTION_MARKERS):
            _fallback_contacts_from_page(text, contacts)
        if any(m in text for m in _PROJECT_SECTION_MARKERS):
            _fallback_projects_from_page(text, projects)
    return {"contacts": contacts, "projects": projects}


# ---------------------------------------------------------------------------
# dedup D1/D2 (scraper.py:1364-1397)
# ---------------------------------------------------------------------------

def deduplicate_contacts(contacts: list[dict]) -> list[dict]:
    """First-wins dedup on the variable-length (name[, phone][, email])
    key (scraper.py:1364-1382)."""
    seen: set = set()
    unique: list[dict] = []
    for contact in contacts:
        parts = [contact.get("name", "")]
        if contact.get("phone"):
            parts.append(contact["phone"])
        if contact.get("email"):
            parts.append(contact["email"])
        key = tuple(parts)
        if key not in seen:
            seen.add(key)
            unique.append(contact)
    return unique


_PROJ_KEY_WS = re.compile(r"\s+")


def deduplicate_projects(projects: list[dict]) -> list[dict]:
    """First-wins dedup on whitespace-normalized lowercased name
    (scraper.py:1384-1397)."""
    seen: set = set()
    unique: list[dict] = []
    for project in projects:
        key = _PROJ_KEY_WS.sub(" ", project.get("name", "").lower()).strip()
        if key and key not in seen:
            seen.add(key)
            unique.append(project)
    return unique


# ---------------------------------------------------------------------------
# table gathering: stream-config scoring + duplicate elimination
# ---------------------------------------------------------------------------

def _gather_tables(ir: DocumentIR) -> list[CandidateTable]:
    all_tables: list[CandidateTable] = []

    # lattice profile, rows > 2 (scraper.py:1174-1186)
    for t in ir.lattice_tables:
        if t.grid and len(t.grid) > 2:
            all_tables.append(t)

    # stream profile: keep the best-scoring tolerance config
    # (score = n_tables × avg_cols × avg_accuracy/100, scraper.py:1211-1220;
    # strictly-greater keep, first wins ties)
    best_tables: list[CandidateTable] = []
    best_score = 0.0
    for config_tables in ir.stream_tables_by_config:
        score = float(len(config_tables))
        if config_tables:
            avg_cols = sum(
                (len(t.grid[0]) if t.grid else 0) for t in config_tables
            ) / len(config_tables)
            avg_acc = sum(t.accuracy for t in config_tables) / len(config_tables)
            score = score * avg_cols * (avg_acc / 100)
        if score > best_score:
            best_score = score
            best_tables = config_tables

    # duplicate elimination: list == is shape + cell-wise equality, the
    # np.array_equal analogue (scraper.py:1229-1242)
    for t in best_tables:
        if t.grid and len(t.grid) > 2:
            if not any(existing.grid == t.grid for existing in all_tables):
                all_tables.append(t)

    return all_tables


# ---------------------------------------------------------------------------
# the per-document plan (scraper.py:1160-1358)
# ---------------------------------------------------------------------------

def parse_document(ir: DocumentIR) -> dict:
    """Classify + dispatch tables, adaptively fall back to text scan,
    dedup, score quality, assemble — reference key order throughout."""
    company_info = extract_company_info(ir.page_texts)

    all_tables = _gather_tables(ir)

    contacts: list[dict] = []
    projects: list[dict] = []
    tenders: list[dict] = []
    quality_scores: list[float] = []

    for table in all_tables:
        table_type, confidence = detect_table_type(table.grid)
        if table_type == "unknown" or confidence < 0.3:
            continue
        quality_scores.append(confidence)
        if table_type == "contact":
            contacts.extend(extract_contacts_from_grid(table.grid))
        elif table_type == "project":
            projects.extend(extract_projects_from_grid(table.grid))
        elif table_type == "tender":
            tenders.extend(extract_tenders_from_grid(table.grid))

    # adaptive fallback on poor result cardinality (scraper.py:1303)
    if len(contacts) < 1 or len(projects) < 2:
        fallback = extract_from_text_fallback(ir.page_texts)
        if fallback["contacts"]:
            contacts.extend(fallback["contacts"])
        if fallback["projects"]:
            projects.extend(fallback["projects"])

    contacts = deduplicate_contacts(contacts)
    projects = deduplicate_projects(projects)

    avg_confidence = (
        sum(quality_scores) / len(quality_scores) if quality_scores else 0.0
    )
    methods_used = list(set(t.method for t in all_tables))
    if (contacts or projects) and not quality_scores:
        methods_used.append("text-fallback")

    return {
        "company_info": company_info,
        "contacts": contacts,
        "projects": projects,
        "tenders": tenders,
        "quality": {
            "avg_confidence": round(avg_confidence, 2),
            "tables_processed": len(quality_scores),
            "extraction_methods": methods_used,
        },
        "summary": {
            "contacts": len(contacts),
            "projects": len(projects),
            "tenders": len(tenders),
        },
    }


def result_with_raw_json(result: dict, filename: str) -> dict:
    """HTTP-layer envelope: metadata + self-embedded raw_json
    (app.py:106-112)."""
    result = dict(result)
    result["metadata"] = {"filename": filename, "success": True}
    result["raw_json"] = json.dumps(result, ensure_ascii=False)
    return result
