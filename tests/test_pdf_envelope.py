"""Time envelope of the kernel on shapes that stress it: the kernel's
time on a payload grown 4x must grow less than 8x (linear reads about
4, quadratic 16; a ratio cancels the host's speed).  Each size is timed
in-process, best of 3.

PDF shapes: a k x k ruled grid with one run per cell (lattice cell
assignment), a long content stream of fast-tier operations, an array
whose ``[`` never closes (generic tier from the first token), a long
literal with no ``)``, and a number thousands of digits long that the
fast tier reads and then rejects, and a page of stream tables that
differ only in their last cell (the kernel drops a stream table equal
to one it already kept).  HTML shape: a paragraph of ``a.`` runs ending
in an ``@`` with no domain (every start in the run once scanned to the
same ``@``)."""

from __future__ import annotations

import time

import pytest

from pdf_extractor2_spark.plans.extract_job import _extract_one
from pdf_extractor2_spark.sources.pdf_reader import PdfError, extract_pdf

from pdf_golden import one_page, ruled_grid


def _fast_ops(n: int) -> bytes:
    return b"BT\n" + b"\n".join(
        b"1 0 0 1 40 %d Tm (run %d) Tj 2 -3 Td <4142> ' [(a) -20 (b)] TJ 1 2 m 3 4 l S"
        % (800 - i % 700, i) for i in range(n)
    ) + b"\nET"


def _stream_tables(n: int) -> bytes:
    """n three-row, two-column stream tables, each closed by a one-run
    line at the left margin; 30 points between lines keeps every line
    apart under all four row tolerances."""
    ops, y = [b"BT"], 800
    for t in range(n):
        for r in range(3):
            right = b"t%d" % t if r == 2 else b"bb"
            ops.append(b"1 0 0 1 40 %d Tm (aa) Tj 1 0 0 1 240 %d Tm (%s) Tj" % (y, y, right))
            y -= 30
        ops.append(b"1 0 0 1 40 %d Tm (sep) Tj" % y)
        y -= 30
    ops.append(b"ET")
    return one_page(b"\n".join(ops))


SHAPES = {
    # size is the grid side k: the payload grows with k * k
    "ruled-grid": (20, lambda k: one_page(ruled_grid(k)), 2),
    "fast-ops": (400, lambda n: one_page(_fast_ops(n)), 4),
    "unclosed-array": (2000, lambda n: one_page(b"BT [ " + b"(a) 12 <41> " * n + b"TJ ET"), 4),
    "unclosed-literal": (4000, lambda n: one_page(b"BT 1 0 0 1 40 800 Tm (" + b"abc def " * n + b" Tj ET"), 4),
    "long-number": (5000, lambda n: one_page(b"BT 1 " + b"7" * n + b".. Td ET"), 4),
    "email-run": (2000, lambda n: b"<p>" + b"a." * n + b"@</p>", 4),
    # size is the table count: 800 -> 3,200 tables read 11x with a
    # pairwise duplicate check
    "stream-tables": (800, _stream_tables, 4),
}


def _best_of_3(payload: bytes) -> float:
    best = float("inf")
    for _ in range(3):
        start = time.perf_counter()
        _extract_one("https://envelope.dk/doc", payload, None)
        best = min(best, time.perf_counter() - start)
    return best


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_time_grows_linearly(shape):
    size, make, grow = SHAPES[shape]
    small, large = make(size), make(size * grow)
    assert 3.5 < len(large) / len(small) < 4.5
    _best_of_3(small)  # warm caches and lazy imports
    ratio = _best_of_3(large) / _best_of_3(small)
    assert ratio < 8, f"{shape}: 4x input took {ratio:.1f}x the time"


def test_forged_xref_subsection_count_is_bounded():
    """A subsection count of 10**12 once looped over empty entries for
    hours; the entries past the end of the data change nothing."""
    payload = one_page(b"BT (a) Tj ET").replace(b"xref\n0 1\n", b"xref\n0 1000000000000\n")
    start = time.perf_counter()
    with pytest.raises(PdfError, match="^eof$"):
        extract_pdf(payload)
    assert time.perf_counter() - start < 2.0
