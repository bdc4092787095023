"""End-to-end per-document byte-identity: engine ``parse_document`` vs the
reference's full ``parse_pdf`` pipeline driven through the injectable
oracle (tests/oracle.py). Also checks ``raw_json`` byte equality."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings, strategies as st

from pdf_extractor2_spark.operators.document import (
    CandidateTable,
    DocumentIR,
    extract_company_info,
    extract_from_text_fallback,
    parse_document,
    result_with_raw_json,
)
from pdf_extractor2_spark.operators.grids import normalize_grid

from oracle import OracleDocument, run_reference
from test_grids import (
    CONTACT_BASIC,
    CONTACT_MULTIROW,
    PROJECT_TABLE,
    TENDER_TABLE,
    UNKNOWN_TABLE,
)

COMPANY_PAGE = """ByggeData A/S
CVR: 12345678
Id nr: 456
Telefon: 33 44 55 66
email: info@byggedata.dk
https://byggedata.dk/om
"""

FALLBACK_PAGE = """OPLYSNINGER
ByggeFirma ApS
KONTAKTER
Navn Telefon Rolle
Niels Bohr 12 34 56 78 Projektleder. Totalentreprenør
Mette Hansen Jensen 87 65 43 21 Handled. Steel contractor
PROJEKTER
Opførelse af rækkehuse Valby 45 mio. kr maj 2024 Hovedstaden
Renovering af skolen 2,5 mia Midtjylland Totalentreprenør
UDBUD
Udbud af beton arkiv
"""


def _ct(grid, page=1, method="lattice", acc=95.0):
    return CandidateTable(grid=normalize_grid(grid), page=page, method=method, accuracy=acc)


def _run_both(ir: DocumentIR):
    oracle_doc = OracleDocument(
        page_texts=list(ir.page_texts),
        lattice=[(t.grid, t.page, t.accuracy) for t in ir.lattice_tables],
        stream_by_config={
            i: [(t.grid, t.page, t.accuracy) for t in tables]
            for i, tables in enumerate(ir.stream_tables_by_config)
        },
    )
    return parse_document(ir), run_reference(oracle_doc)


IRS = {
    "tables_only": DocumentIR(
        page_texts=[COMPANY_PAGE],
        lattice_tables=[_ct(CONTACT_BASIC), _ct(PROJECT_TABLE, page=2)],
    ),
    "tender_plus_unknown": DocumentIR(
        page_texts=[COMPANY_PAGE],
        lattice_tables=[_ct(TENDER_TABLE), _ct(UNKNOWN_TABLE)],
    ),
    "fallback_fires": DocumentIR(
        page_texts=[FALLBACK_PAGE],
        lattice_tables=[],
    ),
    "fallback_despite_contacts": DocumentIR(
        # 1 contact but <2 projects → fallback still fires (scraper.py:1303)
        page_texts=[FALLBACK_PAGE],
        lattice_tables=[_ct(CONTACT_BASIC)],
    ),
    "stream_config_sweep": DocumentIR(
        page_texts=[COMPANY_PAGE],
        stream_tables_by_config=[
            [_ct(CONTACT_MULTIROW, method="stream", acc=60.0)],
            [_ct(CONTACT_BASIC, method="stream", acc=90.0),
             _ct(PROJECT_TABLE, method="stream", acc=85.0)],
            [],
            [_ct(CONTACT_BASIC, method="stream", acc=10.0)],
        ],
    ),
    "duplicate_across_sources": DocumentIR(
        page_texts=[COMPANY_PAGE],
        lattice_tables=[_ct(CONTACT_BASIC)],
        stream_tables_by_config=[
            [_ct(CONTACT_BASIC, method="stream", acc=90.0),
             _ct(TENDER_TABLE, method="stream", acc=80.0)],
            [], [], [],
        ],
    ),
    "empty_document": DocumentIR(page_texts=[""]),
    "no_pages": DocumentIR(),
    "multi_page": DocumentIR(
        page_texts=[COMPANY_PAGE, FALLBACK_PAGE, "tredje side uden indhold"],
        lattice_tables=[_ct(UNKNOWN_TABLE)],
    ),
}


@pytest.mark.parametrize("name", list(IRS))
def test_document_parity(reference, name):
    mine, theirs = _run_both(IRS[name])
    assert mine == theirs, name


@pytest.mark.parametrize("name", list(IRS))
def test_raw_json_byte_identity(reference, name):
    mine, theirs = _run_both(IRS[name])
    theirs = dict(theirs)
    theirs["metadata"] = {"filename": f"{name}.pdf", "success": True}
    theirs["raw_json"] = json.dumps(theirs, ensure_ascii=False)
    enveloped = result_with_raw_json(mine, f"{name}.pdf")
    assert enveloped["raw_json"] == theirs["raw_json"]
    assert enveloped == theirs


def test_company_info_parity(reference):
    from oracle import OracleDocument, set_document

    for text in [COMPANY_PAGE, FALLBACK_PAGE, "", "CVR 12345678 tlf 11 22 33 44"]:
        set_document(OracleDocument(page_texts=[text]))
        assert extract_company_info([text]) == reference.extract_company_info("<x>")


def test_text_fallback_parity(reference):
    from oracle import OracleDocument, set_document

    for texts in [[FALLBACK_PAGE], [COMPANY_PAGE, FALLBACK_PAGE], [""], ["KONTAKTER"]]:
        set_document(OracleDocument(page_texts=texts))
        assert extract_from_text_fallback(texts) == \
            reference.extract_from_text_fallback("<x>")


# ---------------------------------------------------------------------------
# fuzz whole documents
# ---------------------------------------------------------------------------

PAGE_LINES = [
    "KONTAKTER", "PROJEKTER", "UDBUD", "OPLYSNINGER", "Kontakter",
    "Navn Telefon Rolle", "Niels Bohr 12 34 56 78 Projektleder",
    "Mette Hansen 87 65 43 21 Handled. Murer",
    "Opførelse af huse 45 mio. kr maj 2024", "Renovering 2,5 mia",
    "ByggeData A/S", "CVR: 12345678", "Telefon: 33 44 55 66",
    "info@byggedata.dk", "https://x.dk", "Id nr: 9", "tom linje", "",
    "Jens Madsen", "11 22 33 44", "Handled. Tagdækker", "arkiv",
]
_line = st.sampled_from(PAGE_LINES)
_page = st.lists(_line, min_size=0, max_size=15).map("\n".join)

from test_grids import _grid_strategy  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    pages=st.lists(_page, min_size=0, max_size=3),
    grids=st.lists(_grid_strategy, min_size=0, max_size=3),
)
def test_fuzz_document_parity(reference, pages, grids):
    tables = [_ct(grid, page=i + 1) for i, grid in enumerate(grids)]
    ir = DocumentIR(page_texts=pages, lattice_tables=tables)
    mine, theirs = _run_both(ir)
    assert mine == theirs


def test_plumber_channel_is_dead_in_reference(reference):
    """Injecting pdfplumber tables into the reference changes nothing:
    its cleanup (scraper.py:967 ``df.replace(None, np.nan)``) raises
    TypeError under the pinned pandas, so the whole plumber source
    yields [] — which is why the engine's DocumentIR carries only the
    lattice and stream channels, with no plumber channel at all
    (SURVEY.md §8 S4)."""
    raw_tables = [[
        ["Navn", "Telefon", "Email"],
        ["Niels Bohr", "12 34 56 78", "n@b.dk"],
        ["Mette Hansen", "23 45 67 89", "m@h.dk"],
        ["Jens Madsen", "34 56 78 90", "j@m.dk"],
    ]]
    with_tables = run_reference(
        OracleDocument(page_texts=[COMPANY_PAGE], plumber_tables=[raw_tables])
    )
    without = run_reference(OracleDocument(page_texts=[COMPANY_PAGE]))
    assert with_tables == without
    assert with_tables["quality"]["tables_processed"] == 0
