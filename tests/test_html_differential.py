"""The HTML front-end against its frozen predecessor
(``oracle.old_extract_html``, the event-sink scanner as it stood): the
live ``extract_html`` must return an equal ``(ir, spans)`` pair.

Inputs: every HTML document of the benchmark pool (seed 42) and of two
more seeds, gzip-wrapped and latin-1 pages included; named edge cases of
a table cell's form, contents, structure and context; 20,000 seeded
documents built from those fragments and 5,000 seeded splices of them
into pool pages; and every prefix of a short table."""

from __future__ import annotations

import gzip
import random

import pytest

from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload
from pdf_extractor2_spark.sources.html_extract import extract_html

import oracle

POOLS = ((42, 8192), (11, 1500), (12, 1500))  # (seed, documents)


def _same(payload: bytes) -> None:
    assert extract_html(payload) == oracle.old_extract_html(payload), payload[:300]


@pytest.fixture(scope="module")
def pool_html() -> list[bytes]:
    out = []
    for seed, docs in POOLS:
        for i in range(docs):
            spec = make_doc_spec(i, seed=seed)
            if spec.payload_kind == "html":
                payload = render_payload(spec)
                out.append(gzip.decompress(payload) if payload[:2] == b"\x1f\x8b" else payload)
    return out


def test_pool_documents(pool_html):
    assert len(pool_html) > 7000
    assert any(b"iso-8859-1" in p[:200] for p in pool_html)  # latin-1 pages
    for payload in pool_html:
        _same(payload)


TEXTS = [
    "Niels Bohr", "", " ", "  \n ", "a &amp; b", "x&#32;y", "&#32;", "&#1;", "&",
    "a > b", "  spaced   out\ttext ", "æøå ÆØÅ", "x&nbsp;y", "Tlf. 12 34 56 78",
    "&lt;td&gt;", "ab", "abc",
]

CELLS = [
    "<td>{}</td>", "<th>{}</th>", "<TD>{}</TD>", "<Td>{}</td>", "<td>{}</TD>",
    "<td class=x>{}</td>", "<td role=navigation>{}</td>", '<td role="banner">{}</td>',
    "<td>{}</td >", "<td >{}</td>", "<td>{}</th>", "<th>{}</td>", "<td/>{}</td>",
    "<td>{}", "<td>{}</td", "<td>{}<br>{}</td>", "<td>{}<br/></td>", "<td><br>{}</td>",
    "<td><!-- c -->{}</td>", "<td>{}<!-- c --></td>", "<td><a href=x>{}</a></td>",
    "<td>{}<a href=x>{}</a></td>", "<td>{}<td>{}</td>", "<td>{}</tdx>", "<tdx>{}</td>",
    "<td>{}</td>{}", "<td><p>{}</p></td>", "<td>{}<b>{}</b></td>", "<caption>{}</caption>",
    "<td role=navigation>{}",
]

STRUCTURE = [
    "<table>", "</table>", "<tr>", "</tr>", "<table><tr>", "</tr></table>", "<TABLE>",
    "</TR>", "<table><tr><td>", "</td></tr>", "<table><table>", "</table></table>",
]

CONTEXT = [
    "<title>", "</title>", "<script>", "</script>", "<style>", "</style>", "<nav>", "</nav>",
    "<footer>", "</footer>", "<div role=navigation>", '<div role="contentinfo">', "<div>",
    "</div>", "<svg>", "</svg>", "<a href=x>", "</a>", "<p>", "</p>", "<h2>", "</h2>",
    "<li>", "<br>", "<!-- c -->", "<!doctype html>", "text between tags", " ", "\n",
    "<span>", "</span>", "<noscript>", "</noscript>", "<template>", "</template>",
    "<style role=navigation>", "<div role=navigation>text in a role div</div>",
]


def _cell(rng: random.Random) -> str:
    form = rng.choice(CELLS)
    return form.format(*(rng.choice(TEXTS) for _ in range(form.count("{}"))))


def _fragment(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.5:
        return _cell(rng)
    if r < 0.7:
        return rng.choice(STRUCTURE)
    if r < 0.95:
        return rng.choice(CONTEXT)
    return rng.choice(TEXTS)


def _table(rng: random.Random) -> str:
    rows = "".join(
        "<tr>" + "".join(_cell(rng) for _ in range(rng.randint(1, 4))) + "</tr>"
        for _ in range(rng.randint(1, 3))
    )
    return "<table>" + rows + "</table>"


EDGE_CASES = [
    # the tag's form
    "<table><tr><TD>a b c</TD><Td>d e f</td></tr></table>",
    "<table><tr><td class=x>a b c</td><td role=navigation>nav cell</td><td>after</td></tr></table><p>body text</p>",
    "<table><tr><td role=navigation>nav cell<td>closes the nav</td></tr></table><p>body text</p>",
    "<table><tr><td>a b c</td ><td>d</td></tr></table>",
    # cell contents
    "<table><tr><td>a &amp; b</td><td>x&#32;y</td><td>&#32;</td><td>&#1;</td></tr></table>",
    "<table><tr><td></td><td> </td><td>\n\t</td><td>a</td></tr></table>",
    "<table><tr><td>one<br>two</td><td><!-- c -->x</td><td><a href=x>link</a></td></tr></table>",
    # structure
    "<td>outside a row</td><p>para</p>",
    "<table><tr><td>in</td></tr></table><td>after the table</td><p>para</p>",
    "<table><tr><td>x</table><td>stale row</td><p>para</p>",
    "<table><tr><td>outer<table><tr><td>inner</td></tr></table>tail</td></tr></table>",
    "<table><tr><td>unclosed cell<tr><td>next row",
    "<table><tr><td>a</td><td>b</td>",
    "<table><tr><td>a</td></tr><tr><td>b</td>",
    # context
    "<title><table><tr><td>in the title</td></tr></table></title><p>body</p>",
    "<script><table><tr><td>in a script</td></tr></table></script><p>body</p>",
    "<script role=navigation>var x = 1;</script><p>body text</p>",
    "<nav><table><tr><td>in the nav</td></tr></table></nav><p>body</p>",
    "<div role=navigation><table><tr><td>role nav</td></tr></table></div><td>after</td>",
    "<svg><table><tr><td>in an svg</td></tr></table></svg><p>body</p>",
    "<a href=x><table><tr><td>in a link</td></tr></table></a>",
    "<table><caption>cap text</caption><tr><td>a</td></tr></table>",
    "<p>open para<table><tr><td>cell</td></tr></table>tail text",
]


def test_edge_cases():
    for doc in EDGE_CASES:
        _same(doc.encode())


def test_seeded_documents():
    rng = random.Random(15)
    for _ in range(20_000):
        parts = [_fragment(rng) for _ in range(rng.randint(1, 30))]
        if rng.random() < 0.5:
            parts.insert(rng.randrange(len(parts) + 1), _table(rng))
        _same("".join(parts).encode())


def test_seeded_splices_into_pool_pages(pool_html):
    rng = random.Random(16)
    pages = pool_html[:200]
    for _ in range(5_000):
        page = rng.choice(pages)
        for _ in range(rng.randint(1, 4)):
            at = rng.randrange(len(page) + 1)
            piece = _table(rng) if rng.random() < 0.3 else _fragment(rng)
            page = page[:at] + piece.encode() + page[at:]
        _same(page)


def test_every_prefix_of_a_short_table():
    doc = (
        "<p>lead text</p><table><tr><td>a &amp; b</td><td>Niels  Bohr</td></tr>"
        "<tr><td> </td><td>x<br>y</td><TD class=z>z</TD></tr></table><p>after text</p>"
    ).encode()
    for end in range(len(doc) + 1):
        _same(doc[:end])
