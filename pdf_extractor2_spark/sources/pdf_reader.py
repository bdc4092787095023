"""From-scratch PDF payload front-end (SURVEY.md §2.9, BASELINE north_star:
"xref/object-stream walking, text-run positional clustering into
lines/blocks").

No pdf library: this module implements, with the stdlib only,
  1. object-level parsing — compiled alternations over PDF syntax (dicts,
     arrays, names, numbers, literal/hex strings, streams): a value, an
     ``N G R`` reference included, in one match, a dict entry (key and
     the start of its value) in one match, an ``N G obj`` header in one
     match, and an object stream's header in one ``findall``;
  2. cross-reference walking — classic ``xref`` tables AND cross-reference
     streams (/Type/XRef, W-field decoding) with /ObjStm object streams,
     whose objects are all parsed when the first is asked for;
  3. FlateDecode and ASCIIHexDecode stream filters;
  4. a two-tier content-stream interpreter for the text operators
     BT/ET, Tf, TL, Td, TD, Tm, T*, Tj, TJ, ' and the path operators
     m/l/S (ruling lines), producing positioned text runs per page:
       * fast tier: one compiled match per operation in the form the
         fixture writer emits it (single spaces between operands): a
         ``Tm``, ``Td``/``TD`` or ``m l S`` together with the string
         shown right after it, if any; a plain literal or hex string
         shown by ``Tj`` or ``'``, or as ``[string number] TJ``; ``TL``,
         ``Tf``, ``BT`` and ``ET``.  Numbers are checked by ``float()``
         before any state changes;
       * generic tier: anything else, one token at a time, until the
         next operation boundary.  Both tiers leave the same runs,
         segments and text state;
  5. positional clustering:
       * lines: runs sorted once per page top-down, then grouped by y
         (tolerance-chained) per distinct row tolerance, sorted by x; a
         wider tolerance that joins no lines shares the narrower list;
       * page text and spans: the row-tolerance-2.0 lines top-to-bottom,
         runs joined with single spaces;
       * "stream" table profile: whitespace-aligned column clustering at
         the reference's four tolerance configs (scraper.py:1192-1197),
         one region pass per distinct line list, a grid shared by the
         configs that assign every run alike — the model-selection score
         picks the best config downstream;
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
from itertools import groupby

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
_SKIP_RE = re.compile(_SKIP)
_TOKEN_ALT = rb"(<<|>>|[\[\]<>(){}]|/" + _REGULAR + rb"*|" + _REGULAR + rb"+)"
_TOKEN = re.compile(_SKIP + _TOKEN_ALT)
# the three tokens _TOKEN reads one after the other (`N G obj` in an
# object header), each None past the end of the data
_THREE_TOKENS = re.compile((rb"(?:" + _SKIP + _TOKEN_ALT + rb")?") * 3)
# one value, by group: an `N G R` reference (1, 2), a name (3, without
# its `/`), an integer (4), a real (5) or any other token (6)
_VALUE_ALT = (
    rb"(?:([+-]?\d+)" + _TOKEN_END + _SKIP + rb"([+-]?\d+)" + _TOKEN_END + _SKIP
    + rb"R" + _TOKEN_END
    + rb"|/(" + _REGULAR + rb"*)"
    + rb"|([+-]?\d+)" + _TOKEN_END
    + rb"|([+-]?(?:\d+\.\d*|\.\d+))" + _TOKEN_END
    + rb"|(<<|>>|[\[\]<>(){}]|" + _REGULAR + rb"+))"
)
_VALUE = re.compile(_SKIP + _VALUE_ALT)
# one dict entry: a key (1) and the start of its value (2-7 as in
# _VALUE), or else the single token _TOKEN reads there (8): ``>>``, a
# key whose value does not start, or a token that is no key
_ENTRY = re.compile(
    _SKIP + rb"(?:/(" + _REGULAR + rb"*)" + _TOKEN_END + _SKIP + _VALUE_ALT
    + rb"|" + _TOKEN_ALT + rb")"
)
_HEX_WS = b" \t\n\r\x0b\x0c"  # what a hex string may hold between digits


def _unhex(hexpart: bytes) -> bytes:
    """Hex digits to bytes, whitespace ignored, an odd last digit padded
    with 0 (hex strings and ASCIIHexDecode alike)."""
    hexpart = hexpart.translate(None, _HEX_WS)
    if len(hexpart) % 2:
        hexpart += b"0"
    return bytes.fromhex(hexpart.decode("ascii"))


def _token(data: bytes, pos: int) -> tuple[bytes, int]:
    """The token at pos and the position after it."""
    m = _TOKEN.match(data, pos)
    if m is None:
        raise PdfError("eof")
    return m[1], m.end()


def _object_header(head: re.Match, num: int | None, bad: str) -> int:
    """The position after the ``N G obj`` whose _THREE_TOKENS match is
    head.  Raises as reading the tokens one at a time would: when N is
    not ``num`` (None: any integer), and with message ``bad`` when the
    third token is not ``obj``."""
    onum, gen, kw = head.groups()
    if onum is None:
        raise PdfError("eof")
    if int(onum) != num and num is not None:
        raise PdfError(f"xref mismatch for {num}")
    if gen is None:
        raise PdfError("eof")
    int(gen)
    if kw is None:
        raise PdfError("eof")
    if kw != b"obj":
        raise PdfError(bad)
    return head.end()


_ESCAPES = {
    0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
    0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C,
}
_LITERAL_RUN = re.compile(rb"[^\\()]*")


def _literal(d: bytes, pos: int) -> tuple[bytes, int]:
    """The literal string whose ``(`` ends just before pos, and the
    position after its ``)``."""
    n = len(d)
    out = bytearray()
    depth = 1
    while pos < n:
        run = _LITERAL_RUN.match(d, pos)
        out += run[0]
        pos = run.end()
        if pos == n:
            break
        c = d[pos]
        pos += 1
        if c == 0x5C:  # backslash
            e = d[pos]
            pos += 1
            mapped = _ESCAPES.get(e)
            if mapped is not None:
                out.append(mapped)
            elif 0x30 <= e <= 0x37:  # octal
                oct_digits = chr(e)
                while len(oct_digits) < 3 and 0x30 <= d[pos] <= 0x37:
                    oct_digits += chr(d[pos])
                    pos += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                if e == 0x0D and d[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
        elif c == 0x28:
            depth += 1
            out.append(c)
        else:  # 0x29
            depth -= 1
            if depth == 0:
                return bytes(out), pos
            out.append(c)
    raise PdfError("unterminated string")


@dataclass(slots=True, unsafe_hash=True)
class Ref:
    num: int
    gen: int


def _parse(data: bytes, pos: int):
    """The value at pos and the position after it."""
    m = _VALUE.match(data, pos)
    if m is None:
        raise PdfError("eof")
    return _value(data, m)


def _value(data: bytes, m: re.Match):
    """The value a _VALUE match starts and the position after it."""
    kind = m.lastindex
    if kind == 3:
        return ("name", m[3].decode("latin-1")), m.end()
    if kind == 2:
        return Ref(int(m[1]), int(m[2])), m.end()
    if kind == 4:
        return int(m[4]), m.end()
    if kind == 5:
        return float(m[5]), m.end()
    return _opened(data, m[6], m.end())


def _opened(data: bytes, tok: bytes, pos: int):
    """The value token ``tok`` opens (read on from pos for a container
    or a string) and the position after it."""
    if tok == b"<<":
        d = {}
        while True:
            m = _ENTRY.match(data, pos)
            if m is None:
                raise PdfError("eof")
            kind = m.lastindex
            if kind == 8:
                tok = m[8]
                if tok == b">>":
                    return d, m.end()
                if tok[0] != 0x2F:
                    raise PdfError(f"bad dict key {tok!r}")
                _parse(data, m.end())  # no value starts here: raises
            key = m[1].decode("latin-1")
            if kind == 4:
                d[key] = ("name", m[4].decode("latin-1"))
            elif kind == 3:
                d[key] = Ref(int(m[2]), int(m[3]))
            elif kind == 5:
                d[key] = int(m[5])
            elif kind == 6:
                d[key] = float(m[6])
            else:
                d[key], pos = _opened(data, m[7], m.end())
                continue
            pos = m.end()
    if tok == b"[":
        arr = []
        while True:
            m = _VALUE.match(data, pos)
            if m is None:
                raise PdfError("eof")
            if m[6] == b"]":
                return arr, m.end()
            value, pos = _value(data, m)
            arr.append(value)
    if tok == b"(":
        return _literal(data, pos)
    if tok == b"<":
        end = data.index(b">", pos)
        return _unhex(data[pos:end]), end + 1
    if tok in (b"true", b"false"):
        return tok == b"true", pos
    if tok == b"null":
        return None, pos
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
        data, xref = self.data, self._xref
        head = _THREE_TOKENS.match(data, pos)
        if head[1] == b"xref":
            # classic table
            pos = head.end(1)
            while True:
                tok, pos = _token(data, pos)
                if tok == b"trailer":
                    trailer, _ = _parse(data, pos)
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    return trailer.get("Prev")
                first = int(tok)
                tok, pos = _token(data, pos)
                count = max(int(tok), 0)
                # 20-byte entries.  Those past the end of the data are empty
                # and change nothing, so a forged count cannot spin the loop;
                # pos still moves past the whole subsection
                start = _SKIP_RE.match(data, pos).end()
                for i in range(min(count, -(-(len(data) - start) // 20))):
                    at = start + 20 * i
                    num = first + i
                    if data[at + 17 : at + 18] == b"n" and num not in xref:
                        xref[num] = ("direct", int(data[at : at + 10]))
                pos = start + 20 * count
        # xref stream
        d, pos = _parse(data, _object_header(head, None, "bad xref stream object"))
        if not isinstance(d, dict):
            raise PdfError("stream without dict")
        raw = self._stream_data(pos, d)
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
        fields, off = [], 0  # (start, end) of each field, None for an absent one
        for width in w:
            fields.append((off, off + width) if width else None)
            off += width
        ei = 0
        for s in range(0, len(index), 2):
            start, cnt = int(index[s]), int(index[s + 1])
            for num in range(start, start + cnt):
                if ei >= len(entries):
                    break
                e = entries[ei]
                ei += 1
                t, f2, f3 = [1 if f is None else int.from_bytes(e[f[0] : f[1]], "big")
                             for f in fields]
                if num in xref:
                    continue
                if t == 1:
                    xref[num] = ("direct", f2)
                elif t == 2:
                    xref[num] = ("objstm", f2, f3)
        return d.get("Prev")

    # -- object resolution ----------------------------------------------------

    def _stream_data(self, pos: int, d: dict):
        """The decoded data of the stream whose dict ``d`` ends at pos;
        None when no ``stream`` keyword follows."""
        data = self.data
        pos = _SKIP_RE.match(data, pos).end()
        if data[pos : pos + 6] != b"stream":
            return None
        pos += 6
        if data[pos : pos + 2] == b"\r\n":
            pos += 2
        elif data[pos : pos + 1] == b"\n":
            pos += 1
        length = int(self.resolve(d["Length"]))
        raw = data[pos : pos + length]
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
            data = self.data
            head = _THREE_TOKENS.match(data, entry[1])
            value, pos = _parse(data, _object_header(head, num, "bad obj header"))
            if isinstance(value, dict):
                stream = self._stream_data(pos, value)
                if stream is not None:
                    value = (value, stream)
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
        header = _TOKEN.findall(raw[:first])  # every token, as read one by one
        offsets = []
        for i in range(0, 2 * n, 2):
            if i >= len(header):
                raise PdfError("eof")
            int(header[i])  # the object number
            if i + 1 >= len(header):
                raise PdfError("eof")
            offsets.append(int(header[i + 1]))
        objs = [_parse(raw, first + off)[0] for off in offsets]
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

# fast tier: one compiled match per operation, in the form the fixture
# writer emits it: operands and operator separated by single spaces, the
# operation preceded by any whitespace and ended like an operator token.
# An operand run of [0-9.+-] lexes, in the generic tier too, into numbers
# and stray characters without reaching past its ends; where the
# operator reads a run as a number, float() must accept it, which on
# these characters it does exactly when the run is one number token
# (no exponent, `inf` or `_` can appear).  A run float() rejects sends
# the operation to the generic tier before it changes any state.  A
# literal takes this path only without `\` or nested parentheses, a hex
# string only without whitespace.  Each piece matches in one way only,
# so a failed match backtracks in linear time.
_R = rb"([\d.+-]+)"


def _show(first: int) -> bytes:
    """A string shown by Tj or ', or the one string of a [string number]
    TJ array, as groups first (``[``), +1 (literal), +2 (hex) and +3 (Tj
    or ', absent for TJ)."""
    return (rb"(\[)?(?:\(([^\\()]*)\)|<([0-9A-Fa-f]*)>)"
            rb"(?(%d) [\d.+-]+\] TJ| (Tj|'))" % first)


_FAST_OP = re.compile(
    rb"[\x00\t\n\x0c\r ]*(?:"
    # 1 a 2 b, then 3 Td | TD, or m 4 x1 5 y1 l 6 S, or c d 7 tx 8 ty 9 Tm;
    # then, after whitespace, maybe a show (10-13)
    + _R + rb" " + _R + rb" (?:T([dD])"
    rb"|m " + _R + rb" " + _R + rb" l (S)"
    rb"|[\d.+-]+ [\d.+-]+ " + _R + rb" " + _R + rb" T(m))"
    rb"(?:[\x00\t\n\x0c\r ]+" + _show(10) + rb")?"
    # a show alone (14-17)
    rb"|" + _show(14)
    # 18 leading, 19 TL | a font and size, 20 Tf | 21 BT, ET
    + rb"|" + _R + rb" (TL)"
    rb"|/[0-9A-Za-z]+ [\d.+-]+ (Tf)"
    rb"|(BT|ET)"
    rb")(?![A-Za-z'\"*])"
)


def interpret_content(content: bytes) -> tuple[list[TextRun], list[Segment]]:
    """Walk one content stream; return positioned text runs and stroked
    line segments (for ruling detection).

    At each operation boundary (no operand pending, no ``[`` open) the
    fast tier takes operation after operation, one _FAST_OP match each;
    where it cannot, the generic loop reads one token and acts on
    operators as it meets them.  A fast operation leaves exactly the
    state its tokens would."""
    runs: list[TextRun] = []
    segments: list[Segment] = []
    stack: list = []

    line_x = line_y = 0.0  # text line matrix origin (translation part)
    leading = 0.0
    path: list[tuple[float, float]] = []
    pending_segments: list[Segment] = []

    pos, n = 0, len(content)
    arrays: list[list] = []  # nesting stack for [...] operands
    match = _CONTENT_TOK.match

    while pos < n:
        if not stack and not arrays:
            for m in iter(_FAST_OP.scanner(content, pos).match, None):
                op = m.lastindex
                try:
                    show = 0  # the first group of a string shown, if any
                    if op <= 13:  # Tm, Td | TD, or a b m x1 y1 l S; maybe a show
                        if m[9]:
                            line_x, line_y = float(m[7]), float(m[8])
                        elif m[3]:
                            dx, dy = float(m[1]), float(m[2])
                            line_x += dx
                            line_y += dy
                            if m[3] == b"D":
                                leading = -dy
                        else:
                            segment = Segment(float(m[1]), float(m[2]), float(m[4]), float(m[5]))
                            pending_segments.append(segment)
                            segments.extend(pending_segments)
                            pending_segments = []
                            path = []
                        if op >= 10:
                            show = 10
                    elif op <= 17:
                        show = 14
                    elif op == 19:  # TL
                        leading = float(m[18])
                    elif op == 21 and m[21] == b"BT":
                        line_x = line_y = 0.0
                    if show:
                        lit, h, quote = m.group(show + 1, show + 2, show + 3)
                        if quote == b"'":
                            line_y -= leading
                        text = (lit if h is None else _unhex(h)).decode("utf-8", "replace")
                        if text:
                            runs.append(TextRun(line_x, line_y, text))
                except ValueError:  # a number run float() rejects
                    break
                pos = m.end()
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
            s, pos = _literal(content, pos)
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
        show = None
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
            show = stack[-1]
        elif op == b"'":
            line_y -= leading
            show = stack[-1]
        elif op == b"TJ":
            show = b"".join([e for e in stack[-1] if isinstance(e, bytes)])
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
        if show is not None:
            text = show.decode("utf-8", "replace")
            if text:
                runs.append(TextRun(line_x, line_y, text))

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

    The runs are sorted once.  With every coordinate finite, a line
    whose first and last runs share y is all at that y, and so already
    in x order.  A drop within a narrower tolerance is within every
    wider one, so each wider tolerance only joins adjacent lines of the
    previous one and sorts again only the lines it joined; one that
    joins none maps to the previous tolerance's list itself.  Lines are
    shared between tolerances; callers must not mutate them."""
    ordered = sorted(runs, key=lambda r: (-r.y, r.x))
    tols = sorted(set(row_tols))
    lines: list[list[TextRun]] = []  # the current tolerance's lines, in run order
    total = 0.0  # inf or nan if any coordinate is
    for run in ordered:
        total += run.x + run.y
        if lines and lines[-1][-1].y - run.y <= tols[0]:
            lines[-1].append(run)
        else:
            lines.append([run])
    if total - total == 0:
        by_x = [line if line[0].y == line[-1].y else _by_x(line) for line in lines]
    else:
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
        if len(joined) < len(lines):
            lines = joined
            by_x = [_by_x(line) if bx is None else bx for line, bx in zip(joined, joined_by_x)]
        out[tol] = by_x
    return out


def page_spans(lines: list[list[TextRun]], page_start: int) -> tuple[str, list[dict]]:
    """A page's text, its lines (the row-tolerance-2.0 lines, runs joined
    with single spaces) top to bottom, and one span per non-empty line,
    its offsets counted from ``page_start``.  Kind taxonomy per
    FIXTURES.md §4: heading = short ALL-CAPS line (KONTAKTER-style
    section headers), table_field = line with ≥2 positioned runs (the
    stream profile's table-row criterion), paragraph otherwise."""
    texts: list[str] = []
    spans: list[dict] = []
    offset = page_start
    for line_runs in lines:
        line = line_runs[0].text if len(line_runs) == 1 else " ".join([r.text for r in line_runs])
        if line:
            if len(line) < 40 and line.isupper():
                kind = "heading"
            elif len(line_runs) >= 2:
                kind = "table_field"
            else:
                kind = "paragraph"
            spans.append({"kind": kind, "start": offset, "end": offset + len(line), "text": line})
        texts.append(line)
        offset += len(line) + 1
    return "\n".join(texts), spans


def stream_tables(lines: list[list[TextRun]], col_tols) -> list[list[Grid]]:
    """Whitespace-alignment table detection (camelot-stream profile) over
    one page's clustered lines, once per column tolerance: consecutive
    multi-run lines form a region; columns are x clusters.  Single-run
    lines indented past the page's left margin are treated as
    continuation lines (multi-line cells) and stay inside the region.

    The regions and their distinct x positions do not depend on the
    column tolerance and are found once.  A run goes to the rightmost
    column whose first member, less the tolerance, is at or left of it
    (a bisect over those thresholds, once per distinct position).  A
    tolerance that gives every run of a region the same column as the
    tolerance before it shares that grid."""
    left_margin = min([r.x for line in lines for r in line], default=0.0)
    regions: list[list[list[TextRun]]] = []
    region: list[list[TextRun]] = []
    for line in lines:
        if len(line) >= 2 or (region and len(line) == 1 and line[0].x > left_margin + 1):
            region.append(line)
        elif region:
            if len(region) >= 2:
                regions.append(region)
            region = []
    if len(region) >= 2:
        regions.append(region)

    tables: list[list[Grid]] = [[] for _ in col_tols]
    for region in regions:
        xs = [r.x for line in region for r in line]
        # the distinct positions in order: a repeat never starts a
        # cluster (centers only grow) and lands in its first's column
        positions = list(dict.fromkeys(sorted(xs)))
        assigned = grid = None
        for config_tables, col_tol in zip(tables, col_tols):
            cols = _cluster_positions(positions, col_tol)
            thresholds = [cx - col_tol for cx in cols]
            columns = (len(cols), {x: bisect_right(thresholds, x) - 1 for x in positions})
            if columns != assigned:
                assigned = columns
                grid = _fill_grid(region, *columns)
            config_tables.append(grid)
    return tables


def _cluster_positions(sorted_xs: list[float], tol: float) -> list[float]:
    """Cluster sorted x positions; returns cluster centers (first member)."""
    centers: list[float] = []
    for x in sorted_xs:
        if not centers or x - centers[-1] > tol:
            centers.append(x)
    return centers


def _fill_grid(region: list[list[TextRun]], n_cols: int, column: dict[float, int]) -> Grid:
    """One row per line of the region; a run goes to the column of its
    x, a second run in a cell on a new line."""
    grid: Grid = []
    for line in region:
        row = [""] * n_cols
        for r in line:
            ci = column[r.x]
            row[ci] = (row[ci] + "\n" + r.text) if row[ci] else r.text
        grid.append(row)
    return grid


def stream_tables_by_config(lines_by_tol: dict[float, list[list[TextRun]]]) -> list[list[Grid]]:
    """The stream tables of each of STREAM_CONFIGS, in order, from
    cluster_lines' output; configs whose row tolerances gave the same
    list share one stream_tables pass."""
    tables: list[list[Grid]] = []
    for _, configs in groupby(STREAM_CONFIGS, key=lambda config: id(lines_by_tol[config[0]])):
        configs = list(configs)
        tables += stream_tables(lines_by_tol[configs[0][0]], [col_tol for _, col_tol in configs])
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
        x_lo, x_hi, y_lo, y_hi = xs[0], xs[-1], ys[-1], ys[0]
        for r in [r for r in runs if x_lo <= r.x <= x_hi and y_lo <= r.y <= y_hi]:
            k = bisect_left(ys_up, r.y)
            ci = bisect_right(xs, r.x) - 1
            if k and ci < n_cols:
                cells[n_rows - k][ci].append(r)
        grid: Grid = [
            [_cell_text(parts) if parts else "" for parts in cell_row] for cell_row in cells
        ]
        if any(map(any, grid)):
            tables.append(grid)
    return tables


def _cell_text(parts: list[TextRun]) -> str:
    """A lattice cell's runs top-down, then left to right, one a line."""
    if len(parts) == 1:
        return parts[0].text
    return "\n".join([p.text for p in sorted(parts, key=lambda t: (-t.y, t.x))])


# ---------------------------------------------------------------------------
# front-end entry point
# ---------------------------------------------------------------------------

def _accuracy(grid: Grid) -> float:
    total = sum(map(len, grid))
    filled = total - sum([row.count("") for row in grid])  # cells are str
    return round(100.0 * filled / total, 2) if total else 0.0


ROW_TOLS = [row_tol for row_tol, _ in STREAM_CONFIGS]


def extract_pdf(payload: bytes) -> tuple[DocumentIR, list[dict]]:
    """Parse one PDF payload into the kernel IR and its text spans.

    Spans: one per non-empty text line (page_spans), offsets into the
    page texts joined by '\\n\\f\\n' (the result table's main_text)."""
    doc = PdfDocument(payload)
    ir = DocumentIR(stream_tables_by_config=[[] for _ in STREAM_CONFIGS])
    spans: list[dict] = []
    page_start = 0
    for pno, page in enumerate(doc.pages(), start=1):
        runs, segments = interpret_content(doc.page_content(page))
        lines_by_tol = cluster_lines(runs, ROW_TOLS)

        # page text and spans use config 0's row tolerance (2.0)
        text, page_spans_ = page_spans(lines_by_tol[2.0], page_start)
        ir.page_texts.append(text)
        spans += page_spans_
        page_start += len(text) + 3  # the '\n\f\n' page separator

        for grid in lattice_tables(runs, segments):
            ir.lattice_tables.append(
                CandidateTable(grid=grid, page=pno, method="lattice", accuracy=_accuracy(grid))
            )
        tables: dict[int, CandidateTable] = {}  # configs may share a grid
        for config_tables, grids in zip(ir.stream_tables_by_config,
                                        stream_tables_by_config(lines_by_tol)):
            for grid in grids:
                if id(grid) not in tables:
                    tables[id(grid)] = CandidateTable(
                        grid=grid, page=pno, method="stream", accuracy=_accuracy(grid))
                config_tables.append(tables[id(grid)])
    return ir, spans
