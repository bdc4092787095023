"""HTML front-end unit tests: boilerplate stripping, span offsets,
table grid recovery, malformed-markup tolerance (SURVEY.md §2.9)."""

from __future__ import annotations

from pdf_extractor2_spark.sources.html_extract import extract_html

from oracle import stdlib_extract_html

DOC = b"""<!DOCTYPE html><html><head><title>Byg &amp; Bo</title></head><body>
<nav><a href="/a">Forside</a> <a href="/b">Nyheder</a> <a href="/c">Kontakt</a></nav>
<article>
<h1>Projektoversigt</h1>
<p>ByggeData A/S</p>
<p>CVR: 12345678</p>
<p>Et langt afsnit om byggeriet i Valby med mange ord.</p>
<table>
<tr><td>Navn</td><td>Telefon</td></tr>
<tr><td>Niels Bohr</td><td>12 34 56 78</td></tr>
<tr><td>Mette Hansen</td><td>87 65 43 21</td></tr>
</table>
</article>
<footer><a href="/x">Privatliv</a> <a href="/y">Cookies</a></footer>
</body></html>"""


def test_boilerplate_dropped():
    ir, _ = extract_html(DOC)
    assert len(ir.page_texts) == 1
    assert "Forside" not in ir.page_texts[0]
    assert "Privatliv" not in ir.page_texts[0]


def test_main_content_kept_in_order():
    ir, _ = extract_html(DOC)
    lines = ir.page_texts[0].split("\n")
    assert lines[0] == "Byg & Bo"  # title, entity decoded
    assert "Projektoversigt" in lines[1]
    assert lines.index("ByggeData A/S") < lines.index("CVR: 12345678")


def test_span_offsets_are_exact():
    ir, spans = extract_html(DOC)
    for span in spans:
        assert ir.page_texts[0][span["start"]: span["end"]] == span["text"]
    kinds = {s["kind"] for s in spans}
    assert {"title", "heading", "paragraph", "table_field"} <= kinds


def test_table_grid_recovered():
    ir, _ = extract_html(DOC)
    assert len(ir.lattice_tables) == 1
    t = ir.lattice_tables[0]
    assert (t.page, t.method, t.accuracy) == (1, "lattice", 100.0)
    grid = t.grid
    assert grid[0] == ["Navn", "Telefon"]
    assert grid[1] == ["Niels Bohr", "12 34 56 78"]
    assert len(grid) == 3


def test_link_density_strips_link_farms():
    doc = b"""<html><body><article>
    <p><a href="/1">one</a> <a href="/2">two</a> <a href="/3">three</a></p>
    <p>Normal paragraph with plenty of real text content here.</p>
    </article></body></html>"""
    ir, _ = extract_html(doc)
    assert "one two three" not in ir.page_texts[0]
    assert "Normal paragraph" in ir.page_texts[0]


def test_malformed_markup_tolerated():
    for payload in [b"<html><tr><td>x</html", b"<p>unclosed", b"", b"\x00\xffgarbage",
                    b"<table><tr><td>a<td>b</table>"]:
        ir, _ = extract_html(payload)  # must not raise
        assert len(ir.page_texts) == 1


def test_br_preserves_multiline_cells():
    doc = b"<table><tr><td>12 34 56 78<br>98 76 54 32</td><td>x</td></tr><tr><td>a</td><td>b</td></tr></table>"
    ir, _ = extract_html(doc)
    assert ir.lattice_tables, "table missing"
    # <br> must keep both phone numbers in the cell
    cell = ir.lattice_tables[0].grid[0][0]
    assert "12 34 56 78" in cell and "98 76 54 32" in cell


def test_scanner_equivalence():
    """The package's tag scanner and HTMLParser driving the same
    extractor (tests/oracle.py) must produce identical (ir, spans) pairs
    over the whole corpus + adversarial samples."""
    from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_html

    samples = [DOC]
    for i in range(300):
        spec = make_doc_spec(i, seed=31, pdf_share=0.0)
        if spec.payload_kind == "html":
            samples.append(render_html(spec))
    samples += [
        b"<p>a &amp; b &lt;c&gt;</p>",
        b"<!-- comment --><p>x</p>",
        b"<script>var x = '<p>not a tag</p>';</script><p>real</p>",
        b"<style>p { color: red }</style><p>styled</p>",
        b"<P>UPPER</P><BR><TABLE><TR><TD>c</TD></TR></TABLE>",
        b"<p>trailing text",
        b"text only, no tags at all",
        b"<div><p>nested <b>bold</b> inline</p></div>",
    ]
    for payload in samples:
        fast = extract_html(payload)
        std = stdlib_extract_html(payload)
        assert fast == std, payload[:80]

    # intentional divergence on pathological markup: HTMLParser leaks an
    # unterminated comment as text ('< !-- ...'); the fast scanner drops
    # it — the cleaner behavior is the engine's spec
    leaky = b"<p>x</p><!-- unterminated"
    assert extract_html(leaky)[0].page_texts == [""]
    # both paths must never raise on garbage
    for junk in [b"\x00\xff<", b"<", b"<>", b"</>", b"<p", b"&#xZZ;"]:
        extract_html(junk)
        stdlib_extract_html(junk)


def test_role_attribute_boilerplate():
    """divs marked with ARIA landmark roles are boilerplate containers."""
    doc = b"""<html><body>
    <div role="navigation"><a href="/a">Menu punkt et</a> <a href="/b">Menu punkt to</a></div>
    <div><p>Rigtigt indhold om byggeriet i Valby her.</p></div>
    <div role="contentinfo"><p>Copyright foo bar baz corp</p></div>
    <div role="main"><p>Mere rigtigt indhold der skal med.</p></div>
    </body></html>"""
    for extract in (extract_html, stdlib_extract_html):
        text = extract(doc)[0].page_texts[0]
        assert "Menu punkt" not in text, extract.__name__
        assert "Copyright" not in text, extract.__name__
        assert "Rigtigt indhold" in text, extract.__name__
        assert "Mere rigtigt indhold" in text, extract.__name__


def test_two_row_tables_never_reach_the_classifiers():
    """Every HTML grid goes on the lattice channel; the kernel's rows > 2
    rule (scraper.py:1174-1186) then drops a two-row table, so it adds
    no processed table and no extraction method."""
    from pdf_extractor2_spark.operators.document import parse_document

    rows = ["<tr><td>Navn</td><td>Telefon</td><td>Email</td></tr>",
            "<tr><td>Niels Bohr</td><td>12 34 56 78</td><td>niels@inst.dk</td></tr>",
            "<tr><td>Mette Hansen</td><td>87 65 43 21</td><td>mette@byg.dk</td></tr>"]
    quality = {}
    for n in (2, 3):
        doc = "<p>ByggeData A/S</p><table>" + "".join(rows[:n]) + "</table>"
        ir, _ = extract_html(doc.encode())
        assert [len(t.grid) for t in ir.lattice_tables] == [n]
        quality[n] = parse_document(ir)["quality"]
    assert quality[2] == {"avg_confidence": 0.0, "tables_processed": 0,
                          "extraction_methods": []}
    assert quality[3]["tables_processed"] == 1
    assert quality[3]["extraction_methods"] == ["lattice"]
