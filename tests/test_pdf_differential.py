"""The PDF front-end against its frozen predecessors (``oracle.old_*``):
the content interpreter's fast tier, the regex object parser, the line
clustering shared by the row tolerances, the bisect lattice assignment,
the stream-table pass shared by the configs of one row tolerance and
the table accuracy must return what the old code returned, or raise the
same exception type with the same message.

Inputs: every page of the benchmark pool's 1,622 PDFs, 20,000 seeded
mutations of content streams and 5,000 seeded mutations of whole
documents, plus random grids and run layouts."""

from __future__ import annotations

import random

import pytest

from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload
from pdf_extractor2_spark.sources.pdf_reader import (
    ROW_TOLS,
    STREAM_CONFIGS,
    PdfDocument,
    Segment,
    TextRun,
    _accuracy,
    _parse,
    cluster_lines,
    extract_pdf,
    interpret_content,
    lattice_tables,
    stream_tables_by_config,
)

import oracle
from pdf_golden import cases

POOL_SEED = 42
POOL_DOCS = 8192


def _outcome(fn, *args) -> str:
    """repr of the result, or of the exception type and message (repr,
    not ==, so a NaN coordinate compares equal to itself)."""
    try:
        return repr(fn(*args))
    except RecursionError:  # the depth at which it gives up differs between the parsers
        return "RecursionError"
    except Exception as exc:  # the kernel turns these into failure rows
        return f"{type(exc).__name__}: {exc}"


@pytest.fixture(scope="module")
def pool_pdfs() -> list[bytes]:
    out = []
    for i in range(POOL_DOCS):
        spec = make_doc_spec(i, seed=POOL_SEED)
        if spec.payload_kind == "pdf":
            out.append(render_payload(spec))
    return out


@pytest.fixture(scope="module")
def pool_streams(pool_pdfs) -> list[bytes]:
    streams = []
    for payload in pool_pdfs:
        doc = PdfDocument(payload)
        streams.extend(doc.page_content(page) for page in doc.pages())
    return streams


def test_every_pool_page(pool_pdfs, pool_streams):
    assert len(pool_pdfs) == 1622
    for payload in pool_pdfs:
        doc, old = PdfDocument(payload), oracle.OldPdfDocument(payload)
        assert doc.trailer == old.trailer and doc._xref == old._xref
        assert [doc.page_content(p) for p in doc.pages()] == [old.page_content(p) for p in old.pages()]
    for content in pool_streams:
        assert interpret_content(content) == oracle.old_interpret_content(content)
    for payload in pool_pdfs[:400]:
        assert extract_pdf(payload) == oracle.old_extract_pdf(payload)


# content-stream pieces a mutation may insert: operators of both tiers,
# string and array delimiters, escapes, numbers that touch their
# neighbours, whitespace the lexer does and does not skip
_CONTENT_VOCAB = [
    b"Tj", b"'", b"TJ", b"Tm", b"Td", b"TD", b"TL", b"T*", b"BT", b"ET", b"m", b"l", b"S",
    b"Tf", b"Tjj", b"''", b"[", b"]", b"(", b")", b"\\", b"\\(", b"\\)", b"\\101", b"<", b">",
    b"<<", b"4A", b"0", b"12", b"-3.5", b".5", b"+", b"-", b".", b"1e5", b"/F1", b"%",
    b" ", b"\n", b"\r\n", b"\x00", b"\x0b", b"\x0c", b"\t", b"{", b"}", b"x", b"\xc3\xa6", b"\xff",
    b"1 0 0 1 40 800 Tm", b"(a) Tj", b"<41> '", b"[(a) -20 <42>] TJ", b"1 2 m 3 4 l S",
]


def _mutate(data: bytes, rng: random.Random, vocab: list[bytes], alphabet: bytes) -> bytes:
    buf = bytearray(data)
    for _ in range(rng.randint(1, 4)):
        op = rng.randrange(5)
        at = rng.randint(0, len(buf))
        if op == 0:  # insert a piece
            piece = rng.choice(vocab)
            if rng.random() < 0.5:
                piece = rng.choice([b" ", b""]) + piece + rng.choice([b" ", b""])
            buf[at:at] = piece
        elif op == 1 and buf:  # overwrite one byte
            buf[min(at, len(buf) - 1)] = rng.choice(alphabet)
        elif op == 2:  # delete a span
            del buf[at : at + rng.randint(1, 8)]
        elif op == 3:  # duplicate a span
            src = rng.randint(0, len(buf))
            buf[at:at] = buf[src : src + rng.randint(1, 40)]
        else:  # truncate
            del buf[at + rng.randint(0, 200):]
    return bytes(buf)


def test_mutated_content_streams(pool_streams):
    rng = random.Random("pdf-differential:content")
    alphabet = b"0123456789.+- \n()<>[]\\/%'\"*TJjdDmlSf"
    for i in range(20000):
        base = rng.choice(pool_streams)
        start = rng.randrange(max(1, len(base) - 400))
        window = base[start : start + rng.randint(40, 400)]
        content = _mutate(window, rng, _CONTENT_VOCAB, alphabet)
        new, old = _outcome(interpret_content, content), _outcome(oracle.old_interpret_content, content)
        assert new == old, (i, content)


_OBJECT_VOCAB = [
    b"R", b"0 R", b"1 0 R", b"+1 0 R", b"%", b"% 2 0 R\n", b"%c\n", b"<<", b">>", b"[", b"]",
    b"(", b")", b"\\", b"<", b">", b"<41>", b"/N", b"/Type", b"/Length 5", b"obj", b"endobj",
    b"stream", b"endstream", b"true", b"null", b"1.5", b"-0", b"xref", b"trailer", b" ", b"\n",
    b"\r", b"\x00", b"{", b"}",
]


def test_mutated_documents(pool_pdfs):
    # uncompressed classic-xref documents keep their object syntax in the
    # clear; length-preserving overwrites keep every xref offset valid
    rng = random.Random("pdf-differential:documents")
    plain = [p for i, p in enumerate(pool_pdfs) if b"/FlateDecode" not in p][:200]
    bases = plain + [payload for _, payload in cases()]
    alphabet = b"0123456789 \n%RrR()<>[]/\\+-.eE"
    for i in range(5000):
        base = rng.choice(bases)
        if rng.random() < 0.5:
            buf = bytearray(base)
            for _ in range(rng.randint(1, 6)):
                at = rng.randrange(len(buf))
                buf[at] = rng.choice(alphabet)
            payload = bytes(buf)
        else:
            payload = _mutate(base, rng, _OBJECT_VOCAB + _CONTENT_VOCAB, alphabet)
        new, old = _outcome(extract_pdf, payload), _outcome(oracle.old_extract_pdf, payload)
        assert new == old, (i, payload)


_OBJECT_BODIES = [
    b"<< /Type /Page /Parent 2 0 R /Contents [ 5 0 R +6 0 R ] /MediaBox [0 0 595.3 842] "
    b"/Resources << /Font << /F1 7 0 R >> >> % 8 0 R\n /K (a\\)b) /H <41 4> /B true /N null >>",
    b"[ 1 % c\r 0 R 2 0 /Name -.5 [ ] << >> (x) ]",
    b"<</Length 12 0 R/Filter/FlateDecode>>",
]


def test_object_values_cut_at_every_byte(pool_pdfs):
    # a value that ends early, inside a dict or an array, at every byte;
    # the document mutations above seldom reach an object's end of data
    bodies = list(_OBJECT_BODIES)
    for payload in pool_pdfs[:40]:
        for chunk in payload.split(b" obj")[1:]:
            body = chunk.split(b"endobj")[0].split(b"stream")[0]
            if len(body) < 400:
                bodies.append(body)
    assert len(bodies) > 150
    for body in bodies:
        for cut in range(len(body) + 1):
            data = body[:cut]
            new = _outcome(lambda: _parse(data, 0)[0])
            old = _outcome(lambda: oracle.old_parse_value(oracle.OldLexer(data)))
            assert new == old, data


def _random_layout(rng: random.Random):
    k_rows, k_cols = rng.randint(1, 6), rng.randint(1, 6)
    step = rng.choice([10.0, 14.0, 20.0, 0.3])
    x0, y0 = rng.choice([0.0, 40.0, 33.3]), rng.choice([780.0, 500.25])
    ys = [round(y0 - i * step, 1) for i in range(k_rows + 1)]
    xs = [round(x0 + j * step * 2, 1) for j in range(k_cols + 1)]
    segments = [Segment(xs[0] - 1, y, xs[-1] + 1, y + rng.choice([0.0, 0.2, -0.2])) for y in ys]
    segments += [Segment(x, ys[-1], x + rng.choice([0.0, 0.1]), ys[0]) for x in xs]
    if rng.random() < 0.3:  # a second table, or stray rulings
        segments.append(Segment(500.0, 100.0, 500.0, 50.0))
        segments.append(Segment(400.0, 75.0, 600.0, 75.0))
    rng.shuffle(segments)
    runs = []
    for _ in range(rng.randint(0, 40)):
        pick = rng.random()
        if pick < 0.3:  # exactly on a rung or a rule
            x, y = rng.choice(xs), rng.choice(ys)
        elif pick < 0.4:  # outside the grid
            x, y = xs[-1] + rng.uniform(0.01, 50), ys[0] + rng.uniform(-5, 50)
        else:
            x = rng.uniform(xs[0] - 2, xs[-1] + 2)
            y = rng.uniform(ys[-1] - 2, ys[0] + 2)
            if rng.random() < 0.5:
                x, y = round(x, 1), round(y, 1)
        runs.append(TextRun(x, y, rng.choice(["a", "b", "Navn", "12 34", ""])))
    return runs, segments


def test_lattice_bisect_matches_scan():
    rng = random.Random("pdf-differential:lattice")
    for i in range(3000):
        runs, segments = _random_layout(rng)
        assert lattice_tables(runs, segments) == oracle.old_lattice_tables(runs, segments), i


def test_shared_clustering_matches_per_tolerance_clustering():
    rng = random.Random("pdf-differential:lines")
    for i in range(2000):
        runs = [TextRun(rng.choice([40.0, 90.0, rng.uniform(0, 600)]),
                        rng.choice([800.0, 799.0, 786.0, 780.5, rng.uniform(0, 800)]),
                        rng.choice(["a", "b", "c"]))
                for _ in range(rng.randint(0, 30))]
        tols = [tol for tol, _ in STREAM_CONFIGS]
        if i % 2:
            tols = [rng.choice([0.0, 1.0, 2.0, 5.5, 14.0, 30.0]) for _ in range(rng.randint(1, 4))]
        got = cluster_lines(runs, tols)
        assert sorted(got) == sorted(set(tols)), i
        for tol in tols:
            assert got[tol] == oracle.old_cluster_lines(runs, tol), i


def test_stream_pass_per_row_tolerance_matches_per_config():
    # rows on a 14-point pitch and columns at a few x positions, so lines
    # join at the wider row tolerances and regions form; some columns
    # within a column tolerance of each other, some runs off-grid or at
    # an infinite or NaN coordinate
    rng = random.Random("pdf-differential:stream")
    cols = [40.0, 40.4, 44.0, 90.0, 98.0, 240.0, 252.0, 330.0]
    odd = [float("inf"), float("-inf"), float("nan"), 0.0, -0.0]
    for i in range(3000):
        runs = []
        for _ in range(rng.randint(0, 40)):
            x = rng.choice(cols) if rng.random() < 0.8 else rng.uniform(0, 600)
            y = 800.0 - 14.0 * rng.randint(0, 12) + rng.choice([0.0, 0.0, 0.0, 1.5, -3.0])
            if rng.random() < 0.02:
                x, y = rng.choice([(rng.choice(odd), y), (x, rng.choice(odd))])
            runs.append(TextRun(x, y, rng.choice(["a", "b", "Navn", "12 34"])))
        lines_by_tol = cluster_lines(runs, ROW_TOLS)
        got = stream_tables_by_config(lines_by_tol)
        want = [oracle.old_stream_tables(oracle.old_cluster_lines(runs, row_tol), col_tol)
                for row_tol, col_tol in STREAM_CONFIGS]
        assert repr(got) == repr(want), i
        for grids in got:
            for grid in grids:
                assert _accuracy(grid) == oracle._accuracy(grid), i
