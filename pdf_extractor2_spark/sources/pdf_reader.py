"""From-scratch PDF payload front-end (SURVEY.md §2.9, BASELINE north_star:
"xref/object-stream walking, text-run positional clustering into
lines/blocks").

No pdf library: this module implements, with the stdlib only,
  1. object-level parsing — one compiled alternation tokenises PDF
     syntax (dicts, arrays, names, numbers, literal/hex strings, streams),
     and a value reads an ``N G R`` reference in one match;
  2. cross-reference walking — classic ``xref`` tables AND cross-reference
     streams (/Type/XRef, W-field decoding) with /ObjStm object streams;
  3. FlateDecode and ASCIIHexDecode stream filters;
  4. a two-tier content-stream interpreter for the text operators
     BT/ET, Tf, TL, Td, TD, Tm, T*, Tj, TJ, ' and the path operators
     m/l/S (ruling lines), producing positioned text runs per page:
       * fast tier: one compiled match per complete common operation —
         ``a b c d x y Tm``, ``dx dy Td``/``TD``, a plain literal or hex
         string shown by ``Tj`` or ``'``, ``[...] TJ`` over plain strings
         and numbers, ``x y m x y l S``;
       * generic tier: anything else, one token at a time.  Both tiers
         leave the same runs, segments and text state;
  5. positional clustering:
       * lines: runs sorted once per page top-down, then grouped by y
         (tolerance-chained) per distinct row tolerance, sorted by x;
       * page text and spans: the row-tolerance-2.0 lines top-to-bottom,
         runs joined with single spaces;
       * "stream" table profile: whitespace-aligned column clustering at
         the reference's four tolerance configs (scraper.py:1192-1197) —
         the model-selection score picks the best config downstream;
       * "lattice" table profile: cell grids bounded by drawn rulings.

``extract_pdf`` returns the kernel's ``DocumentIR`` and the text spans.

Scope is bounded by the fixture writer (sources/pdf_writer.py) per
FIXTURES.md §1b; unsupported constructs raise, which the extraction
kernel converts into failure rows.
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_left, bisect_right
from dataclasses import dataclass

from ..operators.document import CandidateTable, DocumentIR
from ..operators.grids import Grid

# the reference's camelot-stream tolerance sweep, re-expressed for our
# clusterer: (row_tol, column_tol); config 0 = camelot defaults
STREAM_CONFIGS = [(2.0, 0.5), (10.0, 5.0), (15.0, 10.0), (20.0, 15.0)]

class PdfError(ValueError):
    pass


# decompression bound: a zlib bomb in one document must become a failure
# row, not a stalled executor (SURVEY.md §9 "document-size skew")
MAX_INFLATED_BYTES = 256 * 1024 * 1024


def _bounded_inflate(raw: bytes) -> bytes:
    d = zlib.decompressobj()
    out = d.decompress(raw, MAX_INFLATED_BYTES)
    if d.unconsumed_tail:
        raise PdfError("FlateDecode output exceeds bound (decompression bomb?)")
    return out


# ---------------------------------------------------------------------------
# lexer / object parser
# ---------------------------------------------------------------------------

# a regular character: not whitespace and not a delimiter
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
# whitespace and comments between tokens.  A comment must run to the end
# of its line, so no backtrack can end it early and find a token (say
# `2 0 R`) inside it; no token starts with whitespace or `%`, so a match
# always skips all there is
_SKIP = rb"[\x00\t\n\x0c\r ]*(?:%[^\r\n]*(?![^\r\n])[\x00\t\n\x0c\r ]*)*"
_TOKEN_END = rb"(?!" + _REGULAR + rb")"
_TOKEN_ALT = rb"(<<|>>|[\[\]<>(){}]|/" + _REGULAR + rb"*|" + _REGULAR + rb"+)"
_SKIP_RE = re.compile(_SKIP)
_TOKEN = re.compile(_SKIP + _TOKEN_ALT)
# one value: an `N G R` reference (groups 1 and 2) or one token (group 3)
_VALUE_ALT = (
    rb"(?:([+-]?\d+)" + _TOKEN_END + _SKIP + rb"([+-]?\d+)" + _TOKEN_END + _SKIP
    + rb"R" + _TOKEN_END + rb"|" + _TOKEN_ALT + rb")"
)
_VALUE = re.compile(_SKIP + _VALUE_ALT)
_HEX_WS = re.compile(rb"\s")


def _unhex(hexpart: bytes) -> bytes:
    """Hex digits to bytes, whitespace ignored, an odd last digit padded
    with 0 (hex strings and ASCIIHexDecode alike)."""
    hexpart = _HEX_WS.sub(b"", hexpart)
    if len(hexpart) % 2:
        hexpart += b"0"
    return bytes.fromhex(hexpart.decode("ascii"))


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        self.pos = _SKIP_RE.match(self.data, self.pos).end()

    def peek_bytes(self, k: int) -> bytes:
        return self.data[self.pos : self.pos + k]

    def read_token(self) -> bytes:
        m = _TOKEN.match(self.data, self.pos)
        if m is None:
            raise PdfError("eof")
        self.pos = m.end()
        return m.group(1)

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
        hexpart = self.data[self.pos : end]
        self.pos = end + 1
        return _unhex(hexpart)


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")
_NUM_START = b"+-.0123456789"


def _read_value(lx: _Lexer) -> re.Match:
    """Match one value at lx (an `N G R` reference or one token) and
    move past it."""
    m = _VALUE.match(lx.data, lx.pos)
    if m is None:
        raise PdfError("eof")
    lx.pos = m.end()
    return m


def _parse_value(lx: _Lexer):
    return _value(lx, _read_value(lx))


def _value(lx: _Lexer, m: re.Match):
    """The value a _VALUE match starts: the reference, or what its token
    opens, read on from lx."""
    tok = m.group(3)
    if tok is None:
        return Ref(int(m.group(1)), int(m.group(2)))
    c = tok[0]
    if c == 0x2F:  # name
        return ("name", tok[1:].decode("latin-1"))
    if c in _NUM_START and _NUM_RE.match(tok):
        # an integer here is not a reference: _VALUE tried `N G R` first
        return float(tok) if b"." in tok else int(tok)
    if tok == b"<<":
        d = {}
        while True:
            key = lx.read_token()
            if key == b">>":
                return d
            if not key.startswith(b"/"):
                raise PdfError(f"bad dict key {key!r}")
            d[key[1:].decode("latin-1")] = _parse_value(lx)
    if tok == b"[":
        arr = []
        while True:
            m = _read_value(lx)
            if m.group(3) == b"]":
                return arr
            arr.append(_value(lx, m))
    if tok == b"(":
        return lx.read_literal_string()
    if tok == b"<":
        return lx.read_hex_string()
    if tok in (b"true", b"false"):
        return tok == b"true"
    if tok == b"null":
        return None
    raise PdfError(f"unexpected token {tok!r}")


# ---------------------------------------------------------------------------
# document: xref walking + object resolution
# ---------------------------------------------------------------------------

_STARTXREF = re.compile(rb"startxref\s+(\d+)")


class PdfDocument:
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
        m = list(_STARTXREF.finditer(tail))
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
        lx = _Lexer(self.data, pos)
        tok = lx.read_token()
        if tok == b"xref":
            # classic table
            while True:
                tok = lx.read_token()
                if tok == b"trailer":
                    trailer = _parse_value(lx)
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    return trailer.get("Prev")
                first = int(tok)
                count = max(int(lx.read_token()), 0)
                lx.skip_ws()
                # 20-byte entries.  Those past the end of the data are empty
                # and change nothing, so a forged count cannot spin the loop;
                # pos still moves past the whole subsection
                start = lx.pos
                for i in range(min(count, -(-(len(self.data) - start) // 20))):
                    entry = self.data[start + 20 * i : start + 20 * i + 20]
                    offset, kind = entry[:10], entry[17:18]
                    num = first + i
                    if kind == b"n" and num not in self._xref:
                        self._xref[num] = ("direct", int(offset))
                lx.pos = start + 20 * count
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

    def _read_stream_obj(self, lx: _Lexer):
        """Parse a stream object at lx (dict already next); returns
        (dict, decoded_bytes)."""
        d = _parse_value(lx)
        if not isinstance(d, dict):
            raise PdfError("stream without dict")
        return d, self._stream_data(lx, d)

    def _stream_data(self, lx: _Lexer, d: dict):
        """The decoded data of the stream whose dict ``d`` lx has just
        read; None when no ``stream`` keyword follows."""
        lx.skip_ws()
        if lx.peek_bytes(6) != b"stream":
            return None
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
                    raw = _unhex(raw.split(b">")[0])
                else:
                    raise PdfError(f"unsupported filter {f!r}")
        return raw

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
            lx = _Lexer(self.data, entry[1])
            onum = int(lx.read_token())
            if onum != num:
                raise PdfError(f"xref mismatch for {num}")
            int(lx.read_token())
            if lx.read_token() != b"obj":
                raise PdfError("bad obj header")
            value = _parse_value(lx)
            if isinstance(value, dict):
                data = self._stream_data(lx, value)
                if data is not None:
                    value = (value, data)
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
        header = _Lexer(raw[:first])
        pairs = []
        for _ in range(n):
            onum = int(header.read_token())
            off = int(header.read_token())
            pairs.append((onum, off))
        objs = []
        for _, off in pairs:
            objs.append(_parse_value(_Lexer(raw, first + off)))
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


# ---------------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------------

@dataclass(slots=True)
class TextRun:
    x: float
    y: float
    text: str


@dataclass(slots=True)
class Segment:
    x0: float
    y0: float
    x1: float
    y1: float


# generic tier: one compiled alternation per token
_CONTENT_TOK = re.compile(
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

# fast tier: one compiled match per complete common operation.  Each
# piece lexes exactly as _CONTENT_TOK would from the same position:
# whitespace is the same class (content streams have no comments here)
# and no piece starts with it, a number may not run on into a digit or
# `.` so `12` never splits into `1 2` (`1.5.3` goes to the generic tier),
# an operator may not run on into more operator characters, and a
# literal takes this path only without `\` or nested parentheses
# (read_literal_string handles those, and any error they raise).  So
# each piece matches in one way only, and a failed match backtracks in
# linear time
_W = rb"[\x00\t\n\x0c\r ]*"
_NUM = rb"[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?![\d.])"
_OP_END = rb"(?![A-Za-z'\"*])"
_PLAIN_LIT = rb"\(([^\\()]*)\)"
_HEX_STR = rb"<([0-9A-Fa-f\s]*)>"
# (the operation is named by the group that closes last: m.lastgroup)
_FAST_OP = re.compile(
    _W + rb"(?:"
    # (string) Tj | <hex> Tj | (string) ' | <hex> '
    rb"(?P<show>(?:\((?P<lit>[^\\()]*)\)|<(?P<hex>[0-9A-Fa-f\s]*)>)" + _W
    + rb"(?:Tj|(?P<quote>')))"
    # [ strings and numbers ] TJ
    rb"|(?P<tj>\[(?P<parts>(?:" + _W + rb"(?:" + _NUM + rb"|\([^\\()]*\)|<[0-9A-Fa-f\s]*>))*)"
    + _W + rb"\]" + _W + rb"TJ)"
    # two numbers a b, then: Td | TD | m x1 y1 l S | c d x y Tm
    rb"|(?P<a>" + _NUM + rb")" + _W + rb"(?P<b>" + _NUM + rb")" + _W + rb"(?:"
    rb"(?P<td>T(?:d|(?P<TD>D)))"
    rb"|(?P<rule>m" + _OP_END + _W + rb"(?P<x1>" + _NUM + rb")" + _W + rb"(?P<y1>" + _NUM + rb")"
    + _W + rb"l" + _OP_END + _W + rb"S)"
    rb"|(?P<tm>" + (_NUM + _W) * 2
    + rb"(?P<tx>" + _NUM + rb")" + _W + rb"(?P<ty>" + _NUM + rb")" + _W + rb"Tm)"
    rb"))" + _OP_END
)
# the strings of a fast-tier TJ array, in order
_TJ_STRING = re.compile(_PLAIN_LIT + rb"|" + _HEX_STR)


def interpret_content(content: bytes) -> tuple[list[TextRun], list[Segment]]:
    """Walk one content stream; return positioned text runs and stroked
    line segments (for ruling detection).

    At each operation boundary (no operand pending, no ``[`` open) one
    _FAST_OP match tries to take the whole operation; otherwise the
    generic loop reads one token and acts on operators as it meets them.
    A fast operation leaves exactly the state its tokens would."""
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
    match = _CONTENT_TOK.match

    while pos < n:
        if not stack and not arrays:
            # fast tier: operation after operation, until one does not match
            for m in iter(_FAST_OP.scanner(content, pos).match, None):
                pos = m.end()
                kind = m.lastgroup
                if kind == "show":
                    s, h, quote = m.group("lit", "hex", "quote")
                    if quote:
                        line_y -= leading
                    shown(_unhex(h) if s is None else s)
                elif kind == "tm":
                    line_x, line_y = float(m.group("tx")), float(m.group("ty"))
                elif kind == "td":
                    dy = float(m.group("b"))
                    line_x += float(m.group("a"))
                    line_y += dy
                    if m.group("TD"):
                        leading = -dy
                elif kind == "tj":
                    shown(b"".join(
                        t.group(1) if t.lastindex == 1 else _unhex(t.group(2))
                        for t in _TJ_STRING.finditer(m.group("parts"))
                    ))
                else:  # rule: a b m x1 y1 l S
                    pending_segments.append(Segment(
                        float(m.group("a")), float(m.group("b")),
                        float(m.group("x1")), float(m.group("y1")),
                    ))
                    segments.extend(pending_segments)
                    pending_segments = []
                    path = []
            if pos >= n:
                break
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
            lx = _Lexer(content, pos)
            s = lx.read_literal_string()
            pos = lx.pos
            (arrays[-1] if arrays else stack).append(s)
            continue
        if kind == "hex":
            s = _unhex(m.group("hex")[1:-1])
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

def _by_x(line: list[TextRun]) -> list[TextRun]:
    return sorted(line, key=lambda r: (r.x, -r.y)) if len(line) > 1 else line


def cluster_lines(runs: list[TextRun], row_tols) -> dict[float, list[list[TextRun]]]:
    """Group a page's runs into lines, once per row tolerance: runs by y
    descending (then x), a new line wherever y drops by more than the
    tolerance from the previous run, each line sorted by x.

    The runs are sorted once.  A drop within a narrower tolerance is
    within every wider one, so each wider tolerance only joins adjacent
    lines of the previous one and sorts again only the lines it joined.
    Lines are shared between tolerances; callers must not mutate them."""
    ordered = sorted(runs, key=lambda r: (-r.y, r.x))
    tols = sorted(set(row_tols))
    lines: list[list[TextRun]] = []  # the current tolerance's lines, in run order
    for run in ordered:
        if lines and lines[-1][-1].y - run.y <= tols[0]:
            lines[-1].append(run)
        else:
            lines.append([run])
    by_x = [_by_x(line) for line in lines]
    out = {tols[0]: by_x}
    for tol in tols[1:]:
        joined: list[list[TextRun]] = []
        joined_by_x: list = []
        for line, line_by_x in zip(lines, by_x):
            if joined and joined[-1][-1].y - line[0].y <= tol:
                joined[-1] = joined[-1] + line
                joined_by_x[-1] = None
            else:
                joined.append(line)
                joined_by_x.append(line_by_x)
        lines = joined
        by_x = [_by_x(line) if bx is None else bx for line, bx in zip(joined, joined_by_x)]
        out[tol] = by_x
    return out


def _cluster_positions(xs: list[float], tol: float) -> list[float]:
    """Cluster sorted x positions; returns cluster centers (first member)."""
    centers: list[float] = []
    for x in sorted(xs):
        if not centers or x - centers[-1] > tol:
            centers.append(x)
    return centers


def stream_tables(lines: list[list[TextRun]], col_tol: float) -> list[Grid]:
    """Whitespace-alignment table detection (camelot-stream profile) over
    one page's clustered lines: consecutive multi-run lines form a
    region; columns are x clusters.  Single-run lines indented past the
    page's left margin are treated as continuation lines (multi-line
    cells) and stay inside the region."""
    left_margin = min([r.x for line in lines for r in line], default=0.0)
    tables: list[Grid] = []
    region: list[list[TextRun]] = []

    def flush():
        nonlocal region
        if len(region) >= 2:
            xs = [r.x for line in region for r in line]
            cols = _cluster_positions(xs, col_tol)
            # rightmost column with r.x >= cx - col_tol, as a bisect over
            # the precomputed thresholds: cols is ascending, x ↦ x - tol
            # is monotone, and the comparison floats are the IDENTICAL
            # `cx - col_tol` values the former max-genexpr computed — so
            # this is bit-equivalent, not merely "close" (the per-run
            # linear scan was the hottest line of the stream profile)
            thresholds = [cx - col_tol for cx in cols]
            grid: Grid = []
            for line in region:
                row = [""] * len(cols)
                for r in line:
                    ci = bisect_right(thresholds, r.x) - 1
                    row[ci] = (row[ci] + "\n" + r.text) if row[ci] else r.text
                grid.append(row)
            tables.append(grid)
        region = []

    for line in lines:
        if len(line) >= 2 or (region and len(line) == 1 and line[0].x > left_margin + 1):
            region.append(line)
        elif region:
            flush()
    flush()
    return tables


def lattice_tables(runs: list[TextRun], segments: list[Segment]) -> list[Grid]:
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
        # row i holds ys[i] >= y > ys[i + 1], column j xs[j] <= x < xs[j + 1]:
        # with ys ascending, k = bisect_left(ys_up, y) is the first rung at
        # or above y, so row n_rows - k; y on the bottom rung (k == 0) and x
        # on the right rule (j == n_cols) fall in no cell
        ys_up = ys[::-1]
        for r in runs:
            if not (xs[0] <= r.x <= xs[-1] and ys[-1] <= r.y <= ys[0]):
                continue
            k = bisect_left(ys_up, r.y)
            ci = bisect_right(xs, r.x) - 1
            if k and ci < n_cols:
                cells[n_rows - k][ci].append(r)
        grid: Grid = []
        for cell_row in cells:
            row = []
            for parts in cell_row:
                if len(parts) > 1:
                    parts = sorted(parts, key=lambda t: (-t.y, t.x))
                row.append("\n".join([p.text for p in parts]))
            grid.append(row)
        if any(any(c for c in row) for row in grid):
            tables.append(grid)
    return tables


# ---------------------------------------------------------------------------
# front-end entry point
# ---------------------------------------------------------------------------

def _accuracy(grid: Grid) -> float:
    total = sum(len(r) for r in grid)
    filled = sum(1 for r in grid for c in r if c)
    return round(100.0 * filled / total, 2) if total else 0.0


def extract_pdf(payload: bytes) -> tuple[DocumentIR, list[dict]]:
    """Parse one PDF payload into the kernel IR and its text spans.

    Spans: one per non-empty text line, offsets into the page texts
    joined by '\\n\\f\\n' (the result table's main_text).  Kind taxonomy
    per FIXTURES.md §4: heading = short ALL-CAPS line (KONTAKTER-style
    section headers), table_field = line with ≥2 positioned runs (the
    stream profile's table-row criterion), paragraph otherwise."""
    doc = PdfDocument(payload)
    ir = DocumentIR(stream_tables_by_config=[[] for _ in STREAM_CONFIGS])
    spans: list[dict] = []
    page_start = 0
    for pno, page in enumerate(doc.pages(), start=1):
        runs, segments = interpret_content(doc.page_content(page))
        lines_by_tol = cluster_lines(runs, [tol for tol, _ in STREAM_CONFIGS])

        # page text and spans use config 0's row tolerance (2.0)
        texts: list[str] = []
        offset = page_start
        for line_runs in lines_by_tol[2.0]:
            line = " ".join([r.text for r in line_runs])
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

        for grid in lattice_tables(runs, segments):
            ir.lattice_tables.append(
                CandidateTable(grid=grid, page=pno, method="lattice", accuracy=_accuracy(grid))
            )
        for (row_tol, col_tol), config_tables in zip(STREAM_CONFIGS, ir.stream_tables_by_config):
            for grid in stream_tables(lines_by_tol[row_tol], col_tol):
                config_tables.append(
                    CandidateTable(grid=grid, page=pno, method="stream", accuracy=_accuracy(grid))
                )
    return ir, spans
