"""From-scratch PDF writer/reader round-trip (FIXTURES.md §1b) and
kernel byte-identity on PDF payloads."""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
import sys

import pytest

import pdf_extractor2_spark
from pdf_extractor2_spark.plans.extract_job import payload_to_ir
from pdf_extractor2_spark.sources.corpus import DocSpec, make_doc_spec
from pdf_extractor2_spark.sources.pdf_reader import PdfDocument, extract_pdf
from pdf_extractor2_spark.sources.pdf_writer import render_pdf

from oracle import OracleDocument, run_reference


def _spec(idx: int, **kw) -> DocSpec:
    from datetime import datetime, timezone

    base = dict(
        idx=idx,
        url=f"https://x.dk/doc/{idx}",
        warc_ts=datetime(2025, 1, 1, tzinfo=timezone.utc),
        lang="da",
        payload_kind="pdf",
    )
    base.update(kw)
    return DocSpec(**base)


SIMPLE = _spec(
    0,
    title="t",
    company_lines=["ByggeData A/S", "CVR: 12345678", "Telefon: 33 44 55 66"],
    paragraphs=["Oversigt over projekter."],
)

WITH_TABLE = _spec(
    1,
    company_lines=["Nordbyg ApS", "CVR: 87654321"],
    tables=[[
        ["#", "Navn", "Telefon", "Email", "Rolle"],
        ["1", "Niels Bohr", "12 34 56 78", "niels@inst.dk", "Projektleder"],
        ["2", "Mette Hansen", "87 65 43 21", "mette@byg.dk", "Handled. Murer"],
        ["3", "Jens Madsen", "23 45 67 89", "jens@x.dk", "Byggeleder"],
    ]],
)

MULTILINE_CELL = _spec(
    2,
    tables=[[
        ["#", "Navn", "Telefon", "Rolle"],
        ["1", "Niels Bohr", "12 34 56 78\n98 76 54 32", "Projektleder"],
        ["2", "Mette Hansen", "11 22 33 44", "Handled. Maler"],
    ]],
)

DANISH_CHARS = _spec(
    3,
    company_lines=["Møller & Søn A/S", "CVR: 11223344"],
    paragraphs=["Bæredygtighed ✓ på Ærø i Åbenrå"],
)


@pytest.mark.parametrize("spec", [SIMPLE, WITH_TABLE, MULTILINE_CELL, DANISH_CHARS],
                         ids=["simple", "table", "multiline", "danish"])
@pytest.mark.parametrize("variant", [0, 1], ids=["classic-xref", "xref-stream"])
def test_text_roundtrip(spec, variant):
    """Every written text line must come back, in order, in page text —
    for both the classic-xref/raw and xref-stream/ObjStm/Flate variants."""
    spec = _spec(spec.idx * 2 + variant, title=spec.title,
                 company_lines=spec.company_lines, paragraphs=spec.paragraphs,
                 section_lines=spec.section_lines, tables=spec.tables)
    payload = render_pdf(spec)
    assert payload[:5] == b"%PDF-"
    ir, _ = extract_pdf(payload)
    text = "\n".join(ir.page_texts)
    for line in spec.company_lines + spec.paragraphs + spec.section_lines:
        assert line in text, line
    for grid in spec.tables:
        for row in grid:
            for cell in row:
                for part in str(cell).split("\n"):
                    if part:
                        assert part in text, part


def test_document_structure():
    payload = render_pdf(WITH_TABLE)
    doc = PdfDocument(payload)
    assert len(doc.pages()) >= 1


def test_table_recovery():
    ir, _ = extract_pdf(render_pdf(WITH_TABLE))
    grids = [t.grid for tables in ir.stream_tables_by_config for t in tables]
    grids += [t.grid for t in ir.lattice_tables]
    # at least one profile must recover the 4x5 structure
    assert any(len(g) == 4 and len(g[0]) == 5 for g in grids), grids


def test_multiline_cell_becomes_continuation_row():
    ir, spans, kind = payload_to_ir(render_pdf(MULTILINE_CELL))
    assert kind == "pdf"
    # the second phone must survive somewhere in the IR
    flat = json.dumps([t.grid for t in ir.lattice_tables]) + json.dumps(
        [[t.grid for t in cfg] for cfg in ir.stream_tables_by_config]
    )
    assert "98 76 54 32" in flat


@pytest.mark.parametrize("idx", range(0, 40))
def test_kernel_parity_on_corpus_pdfs(reference, idx):
    """Engine vs reference on PDF corpus docs (in-process, seed-shared)."""
    spec = make_doc_spec(idx, seed=11, pdf_share=0.9)
    if spec.payload_kind != "pdf":
        pytest.skip("not a pdf row")
    payload = render_pdf(spec)
    ir, spans, kind = payload_to_ir(payload)
    from pdf_extractor2_spark.operators.document import parse_document

    mine = parse_document(ir)
    theirs = run_reference(
        OracleDocument(
            page_texts=list(ir.page_texts),
            lattice=[(t.grid, t.page, t.accuracy) for t in ir.lattice_tables],
            stream_by_config={
                i: [(t.grid, t.page, t.accuracy) for t in tables]
                for i, tables in enumerate(ir.stream_tables_by_config)
            },
        )
    )
    assert mine == theirs


# ---------------------------------------------------------------------------
# format-breadth: constructs real CC PDFs exercise beyond the fixture writer
# ---------------------------------------------------------------------------

def _minimal_pdf(content_objs: bytes, extra: bytes, n_content: int,
                 contents_ref: bytes) -> bytes:
    """Assemble a classic-xref PDF with externally supplied content
    objects (object numbers 5..4+n) and a /Contents reference value."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [ 4 0 R ] >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: b"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 595 842 ] "
           b"/Resources << /Font << /F1 3 0 R >> >> /Contents " + contents_ref + b" >>",
    }
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    # caller-provided content objects (pre-rendered with correct numbering)
    for i, blob in enumerate(content_objs):
        offsets[5 + i] = len(out)
        out += blob
    maxnum = 4 + n_content
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (maxnum + 1)
    for num in range(1, maxnum + 1):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        maxnum + 1, xref)
    return bytes(out) + extra


def test_contents_array_multiple_streams():
    """/Contents as an array of two streams — concatenated in order."""
    s1 = b"BT /F1 11 Tf 1 0 0 1 40 800 Tm (del et) Tj ET"
    s2 = b"BT /F1 11 Tf 1 0 0 1 40 786 Tm (del to) Tj ET"
    blobs = [
        b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (len(s1), s1),
        b"6 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (len(s2), s2),
    ]
    pdf = _minimal_pdf(blobs, b"", 2, b"[ 5 0 R 6 0 R ]")
    ir, _ = extract_pdf(pdf)
    assert ir.page_texts == ["del et\ndel to"]


def test_asciihex_filter():
    content = b"BT /F1 11 Tf 1 0 0 1 40 800 Tm (hex tekst) Tj ET"
    hexed = content.hex().encode() + b">"
    blob = (b"5 0 obj\n<< /Filter /ASCIIHexDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            % (len(hexed), hexed))
    pdf = _minimal_pdf([blob], b"", 1, b"5 0 R")
    assert extract_pdf(pdf)[0].page_texts == ["hex tekst"]


def test_incremental_update_prev_chain():
    """An appended revision replaces the content stream via a new xref
    section with /Prev — the reader must take the newest object."""
    s1 = b"BT /F1 11 Tf 1 0 0 1 40 800 Tm (gammel) Tj ET"
    blob = b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (len(s1), s1)
    base = _minimal_pdf([blob], b"", 1, b"5 0 R")
    # locate the original startxref for the /Prev pointer
    import re as _re

    prev_xref = int(_re.findall(rb"startxref\s+(\d+)", base)[-1])

    s2 = b"BT /F1 11 Tf 1 0 0 1 40 800 Tm (nyere) Tj ET"
    upd = bytearray(base)
    new_obj_off = len(upd)
    upd += b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (len(s2), s2)
    xref2 = len(upd)
    upd += b"xref\n5 1\n%010d 00000 n \n" % new_obj_off
    upd += b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        prev_xref, xref2)
    ir, _ = extract_pdf(bytes(upd))
    assert ir.page_texts == ["nyere"]


def test_pdf_span_kinds_and_offsets():
    spec = _spec(7, company_lines=["ByggeData A/S"],
                 section_lines=["KONTAKTER", "Niels Bohr 12 34 56 78"],
                 tables=[[["Navn", "Telefon"],
                          ["Niels Bohr", "12 34 56 78"],
                          ["Mette Hansen", "22 33 44 55"]]])
    ir, spans = extract_pdf(render_pdf(spec))
    joined = "\n\f\n".join(ir.page_texts)
    kinds = {}
    for s in spans:
        assert joined[s["start"]: s["end"]] == s["text"], s
        kinds.setdefault(s["kind"], []).append(s["text"])
    assert any(t == "KONTAKTER" for t in kinds.get("heading", []))
    assert any("Niels Bohr" in t for t in kinds.get("table_field", []))
    assert any("ByggeData" in t for t in kinds.get("paragraph", []))


@pytest.mark.parametrize("idx", [20, 21], ids=["classic-xref", "xref-stream"])
def test_two_page_spans_and_table_pages(idx):
    """A document that overflows onto a second page: span offsets index
    into the page texts joined by '\\n\\f\\n', and the ruled table drawn
    on page 2 comes back as lattice and stream tables of page 2.  (Both
    writer seeds draw the first table ruled.)"""
    spec = _spec(idx, company_lines=["ByggeData A/S", "CVR: 12345678"],
                 paragraphs=[f"Afsnit nummer {i} om byggeriet." for i in range(1, 55)],
                 tables=[[["Navn", "Telefon", "Rolle"],
                          ["Niels Bohr", "12 34 56 78", "Projektleder"],
                          ["Mette Hansen", "22 33 44 55", "Byggeleder"],
                          ["Jens Madsen", "23 45 67 89", "Murer"]]])
    ir, spans, kind = payload_to_ir(render_pdf(spec))
    assert kind == "pdf"
    assert len(ir.page_texts) == 2
    joined = "\n\f\n".join(ir.page_texts)
    for s in spans:
        assert joined[s["start"]: s["end"]] == s["text"], s
    page2_start = len(ir.page_texts[0]) + 3
    page2 = [s for s in spans if s["start"] >= page2_start]
    assert page2[0]["start"] == page2_start
    assert [s["text"] for s in page2][-4:] == [
        "Navn Telefon Rolle",
        "Niels Bohr 12 34 56 78 Projektleder",
        "Mette Hansen 22 33 44 55 Byggeleder",
        "Jens Madsen 23 45 67 89 Murer",
    ]
    assert [(t.page, len(t.grid)) for t in ir.lattice_tables] == [(2, 4)]
    stream = [t for cfg in ir.stream_tables_by_config for t in cfg]
    assert stream and {t.page for t in stream} == {2}
    assert ir.stream_tables_by_config[0][0].grid == ir.lattice_tables[0].grid


def _pages_pdf(streams: list[bytes]) -> bytes:
    """Classic-xref PDF with one page per raw content stream."""
    n = len(streams)
    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(n))
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (n, kids)}
    for i, content in enumerate(streams):
        objs[3 + i] = b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>" % (3 + n + i)
        objs[3 + n + i] = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for num in sorted(objs):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def test_span_offsets_after_an_empty_page():
    """A page without text still sits between two '\\n\\f\\n' separators
    of main_text, so the spans of the pages after it stay aligned."""
    ir, spans = extract_pdf(_pages_pdf([
        b"BT 1 0 0 1 40 800 Tm (side et) Tj ET",
        b"",
        b"BT 1 0 0 1 40 800 Tm (side tre) Tj ET",
    ]))
    assert ir.page_texts == ["side et", "", "side tre"]
    joined = "\n\f\n".join(ir.page_texts)
    assert [joined[s["start"]: s["end"]] for s in spans] == ["side et", "side tre"]


@pytest.mark.skipif(sys.version_info < (3, 11), reason="importing the package compiled every pattern")
def test_patterns_compile_on_the_oldest_supported_python():
    """pyproject.toml declares Python >= 3.10, whose ``re`` has neither
    possessive quantifiers nor atomic groups."""
    from re import _constants, _parser

    newer = {_constants.POSSESSIVE_REPEAT, _constants.ATOMIC_GROUP}

    def uses_newer(sub) -> bool:
        for op, av in sub.data:
            if op in newer:
                return True
            for item in av if isinstance(av, (list, tuple)) else [av]:
                for part in item if isinstance(item, (list, tuple)) else [item]:
                    if isinstance(part, _parser.SubPattern) and uses_newer(part):
                        return True
        return False

    found = []
    for info in pkgutil.walk_packages(pdf_extractor2_spark.__path__, "pdf_extractor2_spark."):
        for name, value in vars(importlib.import_module(info.name)).items():
            if isinstance(value, re.Pattern) and uses_newer(_parser.parse(value.pattern, value.flags)):
                found.append(f"{info.name}.{name}")
    assert found == []
