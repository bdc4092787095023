"""PDF edge-case golden manifest: what the PDF front-end returns for a
set of hand-built PDFs, one line per case.

    python tests/pdf_golden.py [OUT]

builds every case of ``cases()`` in memory and writes
``tests/golden/pdf_manifest.txt``, or OUT (``-`` for stdout).  Each line
is tab-separated:

    name  result  ir  runs

``result`` is ``ok`` or the exception ``extract_pdf`` raised, as
``Type: message``.  ``ir`` is a 16-hex sha256 prefix of the returned
``DocumentIR`` and spans (page texts, spans, every candidate grid with
its page and accuracy), ``-`` on error.  ``runs`` is the same kind of
prefix over ``interpret_content`` of every page (each run's x, y and
text, each segment's end points), or the exception raised on the way
there.

The kernel manifest (kernel_golden.py) holds only one-page PDFs from
``pdf_writer.render_pdf``.  These cases reach what that writer never
emits: string escapes and nested parentheses, odd and spaced hex
strings, the ``'`` and ``T*`` operators, ``/Contents`` arrays, empty and
multiple pages, ``/Prev`` chains over both xref kinds, comments between
tokens and inside ``N G R``, signed references, and malformed input
whose error text is part of the failure row.  ``tests/test_pdf_golden.py``
diffs a fresh run against the manifest.  Regenerate it only when PDF
output is meant to change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = os.path.join(HERE, "golden", "pdf_manifest.txt")
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from pdf_extractor2_spark.sources.corpus import make_doc_spec  # noqa: E402
from pdf_extractor2_spark.sources.pdf_reader import (  # noqa: E402
    PdfDocument, extract_pdf, interpret_content,
)
from pdf_extractor2_spark.sources.pdf_writer import render_pdf  # noqa: E402


# ---------------------------------------------------------------------------
# PDF assembly
# ---------------------------------------------------------------------------

def stream(data: bytes, extra: bytes = b"", flate: bool = False) -> bytes:
    """A stream object body (dict plus data)."""
    if flate:
        data = zlib.compress(data)
        extra += b"/Filter /FlateDecode "
    return b"<< " + extra + b"/Length %d >>\nstream\n" % len(data) + data + b"\nendstream"


def classic_pdf(objs: dict[int, bytes], trailer: bytes = b"/Root 1 0 R",
                base: bytes = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n", prev: int | None = None) -> bytes:
    """``base`` plus ``objs`` and one classic xref section covering them
    (one subsection per object, so an update may cover any numbers)."""
    out = bytearray(base)
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n"
    if prev is None:
        out += b"0 1\n0000000000 65535 f \n"
    for num in sorted(objs):
        out += b"%d 1\n%010d 00000 n \n" % (num, offsets[num])
    size = max(objs) + 1
    out += b"trailer\n<< /Size %d " % size + trailer
    if prev is not None:
        out += b" /Prev %d" % prev
    out += b" >>\nstartxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def xref_stream_pdf(objs: dict[int, bytes], packed: list[int],
                    base: bytes = b"%PDF-1.5\n", prev: int | None = None,
                    objstm_num: int | None = None) -> bytes:
    """``base`` plus ``objs``: those numbered in ``packed`` go into one
    /ObjStm, the rest are written directly; a cross-reference stream
    (W [1 4 2], /Index over the numbers present) ends the section.  The
    object stream and the xref stream take the two numbers from
    ``objstm_num`` (default: after the last object)."""
    out = bytearray(base)
    nums = sorted(objs)
    direct = [n for n in nums if n not in packed]
    if objstm_num is None:
        objstm_num = max(nums) + 1
    xref_num = objstm_num + 1
    offsets = {}
    for num in direct:
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    if packed:
        header, body = [], bytearray()
        for num in packed:
            header.append(b"%d %d" % (num, len(body)))
            body += objs[num] + b"\n"
        head = b" ".join(header) + b"\n"
        offsets[objstm_num] = len(out)
        out += b"%d 0 obj\n" % objstm_num + stream(
            head + bytes(body), b"/Type /ObjStm /N %d /First %d " % (len(packed), len(head)),
            flate=True) + b"\nendobj\n"
    xref = len(out)
    offsets[xref_num] = xref
    rows = bytearray()
    index = []
    for num in range(0, xref_num + 1):
        if num in offsets:
            rows += bytes([1]) + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
        elif num in packed:
            rows += bytes([2]) + objstm_num.to_bytes(4, "big") + packed.index(num).to_bytes(2, "big")
        elif prev is None and num == 0:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        else:
            continue
        index.append(num)
    index_b = b" ".join(b"%d 1" % n for n in index)
    extra = b"/Type /XRef /Size %d /W [ 1 4 2 ] /Index [ %s ] /Root 1 0 R " % (xref_num + 1, index_b)
    if prev is not None:
        extra += b"/Prev %d " % prev
    out += b"%d 0 obj\n" % xref_num + stream(bytes(rows), extra, flate=True) + b"\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref
    return bytes(out)


def page_objs(contents: list) -> dict[int, bytes]:
    """Catalog (1), page tree (2), font (3), then one page object per
    entry of ``contents`` and its content objects.  An entry is a
    content stream (bytes), a list of streams (a /Contents array) or
    None (a page without /Contents)."""
    n = len(contents)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    kids = b" ".join(b"%d 0 R" % (4 + i) for i in range(n))
    objs[2] = b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (n, kids)
    nxt = 4 + n
    for i, c in enumerate(contents):
        page = b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 3 0 R >> >>"
        if c is None:
            objs[4 + i] = page + b" >>"
            continue
        parts = c if isinstance(c, list) else [c]
        refs = []
        for part in parts:
            objs[nxt] = stream(part)
            refs.append(b"%d 0 R" % nxt)
            nxt += 1
        ref = b"[ " + b" ".join(refs) + b" ]" if isinstance(c, list) else refs[0]
        objs[4 + i] = page + b" /Contents " + ref + b" >>"
    return objs


def one_page(content: bytes) -> bytes:
    return classic_pdf(page_objs([content]))


def bt(*ops: bytes) -> bytes:
    return b"BT\n/F1 11 Tf\n14 TL\n" + b"\n".join(ops) + b"\nET"


# ---------------------------------------------------------------------------
# cases
# ---------------------------------------------------------------------------

def ruled_grid(k: int, x0: float = 40.0, y0: float = 780.0, step: float = 20.0) -> bytes:
    """A k x k ruled grid with one text run per cell."""
    ops = []
    for i in range(k + 1):
        y = y0 - i * step
        ops.append(b"%.1f %.1f m %.1f %.1f l S" % (x0, y, x0 + k * step * 3, y))
        x = x0 + i * step * 3
        ops.append(b"%.1f %.1f m %.1f %.1f l S" % (x, y0, x, y0 - k * step))
    ops.append(b"BT")
    for r in range(k):
        for c in range(k):
            ops.append(b"1 0 0 1 %.1f %.1f Tm (r%dc%d) Tj" % (
                x0 + c * step * 3 + 2, y0 - r * step - step / 2, r, c))
    ops.append(b"ET")
    return b"\n".join(ops)


def stream_table() -> bytes:
    ops = [b"1 0 0 1 40 800 Tm (KONTAKTER) Tj"]
    y = 780
    for name, phone in [(b"Niels Bohr", b"12 34 56 78"), (b"Mette Hansen", b"22 33 44 55"),
                        (b"Jens Madsen", b"23 45 67 89")]:
        ops.append(b"1 0 0 1 40 %d Tm (%s) Tj" % (y, name))
        ops.append(b"1 0 0 1 240 %d Tm (%s) Tj" % (y, phone))
        y -= 14
    ops.append(b"1 0 0 1 260 %d Tm (fortsat) Tj" % y)
    return bt(*ops)


def cases() -> list[tuple[str, bytes]]:
    c: list[tuple[str, bytes]] = []
    add = lambda name, payload: c.append((name, payload))  # noqa: E731

    # -- literal strings ----------------------------------------------------
    add("lit-escaped-parens", one_page(bt(b"1 0 0 1 40 800 Tm (a\\(b\\)c) Tj")))
    add("lit-backslash", one_page(bt(b"1 0 0 1 40 800 Tm (back\\\\slash) Tj")))
    add("lit-octal", one_page(bt(b"1 0 0 1 40 800 Tm (\\101\\102\\7x\\0053\\377) Tj")))
    add("lit-named-escapes", one_page(bt(b"1 0 0 1 40 800 Tm (a\\nb\\tc\\rd\\be\\ff\\q) Tj")))
    add("lit-continuation-lf", one_page(bt(b"1 0 0 1 40 800 Tm (con\\\ntinued) Tj")))
    add("lit-continuation-crlf", one_page(bt(b"1 0 0 1 40 800 Tm (con\\\r\ntinued) Tj")))
    add("lit-continuation-cr", one_page(bt(b"1 0 0 1 40 800 Tm (con\\\rtinued) Tj")))
    add("lit-nested-parens", one_page(bt(b"1 0 0 1 40 800 Tm (a (b (c)) d) Tj")))
    add("lit-raw-newline", one_page(bt(b"1 0 0 1 40 800 Tm (two\nlines\r\nhere) Tj")))
    add("lit-utf8-and-invalid", one_page(bt(
        "1 0 0 1 40 800 Tm (Møller ✓) Tj".encode("utf-8"),
        b"1 0 0 1 40 780 Tm (bad \xff\xfe byte) Tj")))
    add("lit-empty", one_page(bt(b"1 0 0 1 40 800 Tm () Tj", b"1 0 0 1 40 780 Tm (x) Tj")))
    add("lit-unterminated", one_page(bt(b"1 0 0 1 40 800 Tm (never closed Tj")))
    add("lit-trailing-backslash", one_page(bt(b"1 0 0 1 40 800 Tm (ends\\")))
    add("lit-octal-at-end", one_page(bt(b"1 0 0 1 40 800 Tm (\\1")))

    # -- hex strings --------------------------------------------------------
    add("hex-plain", one_page(bt(b"1 0 0 1 40 800 Tm <48656c6c6f> Tj")))
    add("hex-whitespace", one_page(bt(b"1 0 0 1 40 800 Tm <48 65\n6c\t6c\r6f\x0c21> Tj")))
    add("hex-odd-length", one_page(bt(b"1 0 0 1 40 800 Tm <48656c6c6> Tj")))
    add("hex-upper-empty", one_page(bt(b"1 0 0 1 40 800 Tm <4A4B> Tj <> Tj")))
    add("hex-quote", one_page(bt(b"1 0 0 1 40 800 Tm (top) Tj", b"<6e657874> '")))
    add("hex-not-hex", one_page(bt(b"1 0 0 1 40 800 Tm <48zz> Tj")))
    add("hex-unterminated", one_page(bt(b"1 0 0 1 40 800 Tm <4865")))

    # -- text operators -----------------------------------------------------
    add("quote-and-tstar", one_page(bt(
        b"1 0 0 1 40 800 Tm (one) Tj", b"(two) '", b"T*", b"(three) Tj",
        b"20 TL", b"(four) '", b"T* (five) Tj")))
    add("td-and-TD-leading", one_page(bt(
        b"40 800 Td (a) Tj", b"0 -20 TD (b) Tj", b"(c) '", b"100 0 Td (d) Tj",
        b"-100 -14 Td (e) Tj")))
    add("tj-arrays", one_page(bt(
        b"1 0 0 1 40 800 Tm [(Ny) -20 (hav) 120.5 <6e> (s)] TJ",
        b"1 0 0 1 40 780 Tm [(a)[(nested)]/N 3 (b)] TJ",
        b"1 0 0 1 40 760 Tm [] TJ",
        b"1 0 0 1 40 740 Tm [(x\\)y) (z)] TJ")))
    add("bt-resets-origin", one_page(
        b"BT 10 20 Td (a) Tj ET BT 5 5 Td (b) Tj ET BT (c) Tj ET"))
    add("numbers-adjacent", one_page(bt(
        b"1 0 0 1 40 800Tm(a)Tj", b"1 0 0 1 40.5.5 780 Tm (b) Tj",
        b"+.5 -3. Td (c) Tj", b"1-2 Td (d) Tj", b"1 0 0 1 12 760Tm<41>'")))
    add("operator-suffix", one_page(bt(
        b"1 0 0 1 40 800 Tm (a) Tjj", b"(b) ''", b"(c) Tj*", b"1 0 0 1 40 780 Tmx (d) Tj",
        b"3 4 Tdd (e) Tj", b"(f)Tj(g)Tj")))
    add("leftover-operands", one_page(bt(
        b"7 8 9 1 0 0 1 40 800 Tm (a) Tj", b"5 (b) Tj", b"/Name (c) Tj",
        b"(x) (y) 1 2 Td (d) Tj", b"[(q)] 1 0 0 1 40 700 Tm (e) Tj")))
    add("content-comment-is-not-skipped", one_page(bt(
        b"1 0 0 1 40 800 Tm (a) Tj % 1 0 0 1 40 700 Tm (hidden) Tj",
        b"%(b) Tj", b"(c) Tj")))
    add("content-junk-tokens", one_page(bt(
        b"1 0 0 1 40 800 Tm { (a) Tj } ) > <<(b) Tj>> \x01 (c) Tj")))
    add("content-trailing-ws", one_page(bt(b"1 0 0 1 40 800 Tm (a) Tj") + b"\n \n"))
    add("tj-empty-stack", one_page(bt(b"Tj")))
    add("tm-short-stack", one_page(bt(b"1 2 Tj", b"5 Tm")))
    add("td-on-string", one_page(bt(b"(a) (b) Td")))
    add("tj-on-number", one_page(bt(b"5 Tj")))
    add("tj-array-unclosed", one_page(bt(b"1 0 0 1 40 800 Tm [(a) (b) TJ (c) Tj")))
    add("tj-array-extra-close", one_page(bt(b"1 0 0 1 40 800 Tm ] ] (a) Tj")))
    add("huge-number", one_page(bt(b"1 0 0 1 40 " + b"9" * 400 + b" Tm (inf) Tj")))

    # -- paths and tables ---------------------------------------------------
    add("path-pending", one_page(
        b"10 10 m 20 10 l 30 10 l S 40 40 m 50 40 l 60 70 l 5 5 m 6 6 l S 7 7 l S"))
    add("path-l-without-m", one_page(b"S 15 15 l S 1 2 m 3 4 l"))
    add("ruled-grid-3", one_page(ruled_grid(3)))
    add("ruled-grid-on-lines", one_page(ruled_grid(2) + b"\nBT 1 0 0 1 40 780 Tm (edge) Tj "
                                        b"1 0 0 1 280 740 Tm (corner) Tj "
                                        b"1 0 0 1 160 760 Tm (mid) Tj ET"))
    add("stream-table", one_page(stream_table()))
    add("flate-content", classic_pdf({
        **page_objs([b""]), 5: stream(stream_table(), flate=True)}))
    add("asciihex-content", classic_pdf({
        **page_objs([b""]),
        5: stream(bt(b"1 0 0 1 40 800 Tm (hex filter) Tj").hex().encode()[:-1] + b"\n >",
                  b"/Filter /ASCIIHexDecode ")}))
    add("filter-array", classic_pdf({
        **page_objs([b""]),
        5: stream(zlib.compress(bt(b"(two filters) Tj").hex().encode() + b">"),
                  b"/Filter [ /FlateDecode /ASCIIHexDecode ] ")}))
    add("unsupported-filter", classic_pdf({
        **page_objs([b""]), 5: stream(b"xx", b"/Filter /LZWDecode ")}))

    # -- pages and /Contents --------------------------------------------------
    add("contents-array", classic_pdf(page_objs([
        [bt(b"1 0 0 1 40 800 Tm (del et) Tj"), bt(b"1 0 0 1 40 786 Tm (del to) Tj")]])))
    add("multi-and-empty-pages", classic_pdf(page_objs([
        bt(b"1 0 0 1 40 800 Tm (side et) Tj"), b"", None,
        [b"", bt(b"1 0 0 1 40 800 Tm (side fire) Tj")],
        stream_table()])))
    add("contents-array-with-non-stream", classic_pdf({
        **page_objs([[b"BT (a) Tj ET", b"BT (b) Tj ET"]]), 6: b"42"}))
    add("contents-bad-type", classic_pdf({**page_objs([b""]), 5: b"/NotAStream"}))
    add("nested-page-tree", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R 4 0 R ] /Count 3 >>",
        3: b"<< /Type /Pages /Kids [ 5 0 R 6 0 R ] /Count 2 >>",
        4: b"<< /Type /Page /Contents 9 0 R >>",
        5: b"<< /Type /Page /Contents 7 0 R >>",
        6: b"<< /Type /Page /Contents 8 0 R >>",
        7: stream(bt(b"(first) Tj")), 8: stream(bt(b"(second) Tj")),
        9: stream(bt(b"(third) Tj"))}))

    # -- object syntax ------------------------------------------------------
    add("comments-between-tokens", classic_pdf({
        1: b"<< %c1\n/Type %c2\r/Catalog /Pages %c3\r\n2 0 R >>",
        2: b"<</Type/Pages/Count 1/Kids[3 0 R]>>",
        3: b"<</Type/Page/Contents 4 0 R%trailing\n>>",
        4: stream(bt(b"(comments) Tj"))}))
    add("comments-inside-ref", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 %x\n 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 %y\nR ] >>",
        3: b"<< /Type /Page /Contents 4%z\n0%w\nR >>",
        4: stream(bt(b"(inside ref) Tj"))}))
    add("ref-hidden-in-comment", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        3: b"<< /Type /Page /Contents 4 0 R /N 5 % 4 0 R\n /M 6 >>",
        4: stream(bt(b"(not a ref) Tj"))}))
    add("signed-refs", classic_pdf({
        1: b"<< /Type /Catalog /Pages +2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ +3 -0 R ] >>",
        3: b"<< /Type /Page /Contents +4 +0 R >>",
        4: stream(bt(b"(signed) Tj"))}))
    add("ref-lookalikes", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /A [ 1 2 ] /B [ 1 2 /R ] /C [ 1.0 2 (R) ] >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] /D [ 1 2.5 ] /E 7 /F [ 8 0 ] >>",
        3: b"<< /Type /Page /Contents 4 0 R /G [ 4 0 R/Name ] /H (s) /I <6869> >>",
        4: stream(bt(b"(lookalikes) Tj"))}))
    add("ref-tail-at-eof", classic_pdf({**page_objs([bt(b"(x) Tj")]),
                                        6: b"<< /K 5 0"}))
    add("value-kinds", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /T true /F false /N null /R -1.5 /S .5 "
           b"/L (lit \\) str) /X <41 4> /Nm /A#20b /Arr [ [ ] << >> ] >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: stream(bt(b"(kinds) Tj"))}))
    add("ref-RR", classic_pdf({**page_objs([b""]), 1: b"<< /Pages 2 0 R /B [ 1 2 RR ] >>"}))
    add("obj-hex-not-hex", classic_pdf({**page_objs([b""]), 1: b"<< /Pages 2 0 R /X <4g> >>"}))
    add("ref-float-num", classic_pdf({**page_objs([b""]), 1: b"<< /Pages 2 0 R /C 1.0 2 R >>"}))
    add("ref-float-gen", classic_pdf({**page_objs([b""]), 1: b"<< /Pages 2 0 R /D 1 2.5 R >>"}))
    head = b"%%PDF-1.4\nxref\n0 1\n%010d 00000 n \ntrailer\n<< /Root 0 0 R >>\n"
    add("obj-hex-unterminated", head % len(head % 0) + b"0 0 obj\n<41\nstartxref\n9\n%%EOF\n")
    add("obj-lit-unterminated", b"%PDF-1.4\n1 0 obj (abc\nstartxref\n9\n%%EOF\n")
    add("bad-dict-key", classic_pdf({**page_objs([b""]), 1: b"<< /Type /Catalog 5 /Pages 2 0 R >>"}))
    add("unexpected-token", classic_pdf({**page_objs([b""]), 1: b"<< /Type /Catalog /Pages ] >>"}))
    head = b"%PDF-1.4\n1 0 obj\n<< /Pages 2 0 R /Kids [ 3\n"
    add("unterminated-dict", head + b"xref\n0 2\n0000000000 65535 f \n0000000009 00000 n \n"
        b"trailer\n<< /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % len(head))
    add("unterminated-trailer", head + b"xref\n0 2\n0000000000 65535 f \n0000000009 00000 n \n"
        b"trailer\n<< /Root 1 0 R\nstartxref\n%d\n%%%%EOF\n" % len(head))
    add("missing-object", classic_pdf({**page_objs([b""]), 2: b"<< /Type /Pages /Kids [ 9 0 R ] >>"}))

    # -- cross-reference sections --------------------------------------------
    add("xref-stream-objstm", xref_stream_pdf(
        page_objs([stream_table(), bt(b"1 0 0 1 40 800 Tm (side to) Tj")]), packed=[1, 2, 3, 4, 5]))
    add("xref-stream-all-direct", xref_stream_pdf(page_objs([stream_table()]), packed=[]))
    base = classic_pdf(page_objs([bt(b"1 0 0 1 40 800 Tm (gammel) Tj")]))
    base_x = int(base.rsplit(b"startxref", 1)[1].split()[0])
    add("prev-chain-classic", classic_pdf(
        {5: stream(bt(b"1 0 0 1 40 800 Tm (nyere) Tj"))}, base=base, prev=base_x))
    base2 = xref_stream_pdf(page_objs([bt(b"1 0 0 1 40 800 Tm (gammel) Tj")]), packed=[1, 2, 3, 4])
    base2_x = int(base2.rsplit(b"startxref", 1)[1].split()[0])
    upd = xref_stream_pdf({5: stream(bt(b"1 0 0 1 40 800 Tm (nyere) Tj")),
                           4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Rev 2 >>"},
                          packed=[4], base=base2, prev=base2_x, objstm_num=8)
    add("prev-chain-xref-stream", upd)
    upd_x = int(upd.rsplit(b"startxref", 1)[1].split()[0])
    add("prev-chain-mixed", classic_pdf(
        {5: stream(bt(b"1 0 0 1 40 800 Tm (nyeste) Tj"))}, base=upd, prev=upd_x))
    loop = bytearray(base)
    loop_x = len(loop)
    loop += b"xref\n0 1\n0000000000 65535 f \ntrailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n" % loop_x
    loop += b"startxref\n%d\n%%%%EOF\n" % loop_x
    add("prev-chain-self-loop", bytes(loop))
    add("not-a-pdf", b"%PDX-1.4\n")
    add("no-startxref", b"%PDF-1.4\n1 0 obj\n<< >>\nendobj\n")
    add("startxref-past-end", b"%PDF-1.4\nstartxref\n999\n%%EOF\n")
    add("xref-mismatch", base.replace(b"\n1 0 obj", b"\n7 0 obj", 1))
    add("truncated", base[: len(base) // 2] + base[-40:])
    add("empty-page-tree", classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>", 2: b"<< /Type /Pages /Count 0 /Kids [ ] >>"}))

    # -- writer documents: both xref kinds, several pages --------------------
    for idx in (20, 21):
        spec = make_doc_spec(idx, seed=42)
        spec.payload_kind = "pdf"
        spec.paragraphs = [f"Afsnit nummer {i} om byggeriet (fase {i % 3})." for i in range(70)]
        add(f"writer-long-{idx}", render_pdf(spec))
    return c


# ---------------------------------------------------------------------------
# manifest
# ---------------------------------------------------------------------------

def _h(value) -> str:
    text = json.dumps(value, ensure_ascii=False, sort_keys=True)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def _err(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}".replace("\t", " ").replace("\n", " ")


def manifest_line(name: str, payload: bytes) -> str:
    try:
        ir, spans = extract_pdf(payload)
    except Exception as exc:  # the kernel turns these into failure rows
        result, ir_h = _err(exc), "-"
    else:
        result = "ok"
        tables = lambda ts: [[t.grid, t.page, t.method, t.accuracy] for t in ts]  # noqa: E731
        ir_h = _h([ir.page_texts, spans, tables(ir.lattice_tables),
                   [tables(ts) for ts in ir.stream_tables_by_config]])
    try:
        doc = PdfDocument(payload)
        pages = []
        for page in doc.pages():
            runs, segments = interpret_content(doc.page_content(page))
            pages.append([[[r.x, r.y, r.text] for r in runs],
                          [[s.x0, s.y0, s.x1, s.y1] for s in segments]])
        runs_h = _h(pages)
    except Exception as exc:
        runs_h = _err(exc)
    return "\t".join([name, result, ir_h, runs_h])


def manifest_lines() -> list[str]:
    return [manifest_line(name, payload) for name, payload in cases()]


def main(argv: list[str]) -> int:
    out = argv[1] if len(argv) > 1 else MANIFEST
    text = "".join(line + "\n" for line in manifest_lines())
    if out == "-":
        sys.stdout.write(text)
    else:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w", encoding="utf-8", newline="\n") as fh:
            fh.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
