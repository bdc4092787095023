"""The parse layer against its frozen predecessor (``oracle``'s copy of
scalars.py, grids.py and document.py): the classifier, column finder,
id-column detector, multi-row merge, grid extractors, scalar extractors,
company info, text fallback, table gathering and ``parse_document`` must
return what the old code returned.

Inputs: seeded random grids, texts, pages and documents built from the
reference-parity tests' fuzz vocabularies, with case flips, joined and
split cells, ragged rows and missing cells; plus the IRs of 1,500 pool
documents (HTML and PDF)."""

from __future__ import annotations

import random
import re

import pytest

from pdf_extractor2_spark.functions import scalars
from pdf_extractor2_spark.operators import document, grids
from pdf_extractor2_spark.operators.document import CandidateTable, DocumentIR
from pdf_extractor2_spark.plans.extract_job import payload_to_ir
from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload

import oracle
from parse_golden import CONTACT_KEYWORDS, EDGE_GRIDS, EDGE_PAGES, EDGE_TEXTS, SCALARS
from test_document import COMPANY_PAGE, FALLBACK_PAGE, PAGE_LINES
from test_grids import CELLS
from test_scalars import DANISH_WORDS, TEXT_SAMPLES

# pieces a generated cell or line is built from
_PIECES = sorted(set(CELLS + DANISH_WORDS + PAGE_LINES + EDGE_TEXTS)) + [
    "Sagsansvarlig", "Projekteringsleder", "Hovedentreprenør", "Jordentreprenør",
    "project manager", "head of project", "production manager", "handled",
    "Purchasers", "indkøber", "mobil", "tlf", "org nr", "Org. nr", "id nr",
    "http://x.dk", "ApS", "I/S", "IVS", "renovering", "ombygning", "etablering",
    "byggestart", "Byggestart", "licitation", "udbudsrolle", "stadie", "dato",
    "Seneste", "opdatering", "Roller", "firma", "company", "kontaktperson",
    "billion", "million", "3 okt. 2023", "jan 2026", "12/05/2024", "2031",
    "Syddanmark", "Nordjylland", "Afsluttet", "Procurement", "✓", "#",
]
_JOINS = [" ", " ", " ", "\n", ". ", "", ", ", "\t", "  "]


def _flip_case(rng: random.Random, s: str) -> str:
    return rng.choice([s, s, s.lower(), s.upper(), s.title(), s.swapcase()])


def _text(rng: random.Random, max_pieces: int = 6) -> str:
    parts = [_flip_case(rng, rng.choice(_PIECES)) for _ in range(rng.randint(0, max_pieces))]
    out = ""
    for p in parts:
        out += (rng.choice(_JOINS) if out else "") + p
    if rng.random() < 0.1:
        at = rng.randint(0, len(out))
        out = out[:at] + rng.choice(" \n.@-0123456789æÅİıſK\u212aΣ") + out[at:]
    return out


def _cell(rng: random.Random):
    roll = rng.random()
    if roll < 0.12:
        return None
    if roll < 0.2:
        return rng.choice(["", " ", "nan", "None", " nan", "NaN"])
    if roll < 0.6:
        return rng.choice(CELLS)
    return _text(rng, 3)


def _grid(rng: random.Random) -> list[list]:
    width = rng.randint(1, 8)
    rows = []
    for _ in range(rng.randint(0, 12)):
        w = width if rng.random() < 0.85 else rng.randint(1, width + 2)
        rows.append([_cell(rng) for _ in range(w)])
    return grids.normalize_grid(rows)


def _page(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(0, 20)):
        roll = rng.random()
        if roll < 0.5:
            lines.append(rng.choice(PAGE_LINES))
        elif roll < 0.65:
            lines.append(rng.choice(["KONTAKTER", "PROJEKTER", "Kontakter", "Projekter",
                                     "CONTACTS", "PROJECTS", "UDBUD", "Hubexo"]))
        else:
            lines.append(_text(rng))
    return "\n".join(lines)


def _tables(rng: random.Random, method: str, pool: list) -> list[CandidateTable]:
    out = []
    for _ in range(rng.randint(0, 3)):
        grid = rng.choice(pool) if pool and rng.random() < 0.3 else _grid(rng)
        pool.append(grid)
        out.append(CandidateTable(grid=[list(r) for r in grid], page=rng.randint(1, 3),
                                  method=method, accuracy=rng.choice([0.0, 50.0, 80.0, 99.5, 100.0])))
    return out


def _document(rng: random.Random) -> DocumentIR:
    pool: list = []
    return DocumentIR(
        page_texts=[_page(rng) if rng.random() < 0.9 else rng.choice([COMPANY_PAGE, FALLBACK_PAGE])
                    for _ in range(rng.randint(0, 3))],
        lattice_tables=_tables(rng, "lattice", pool),
        stream_tables_by_config=[_tables(rng, "stream", pool) for _ in range(rng.choice([0, 4]))],
    )


def _check_grid(grid) -> None:
    assert grids.detect_table_type(grid) == oracle.detect_table_type(grid), grid
    for kws in CONTACT_KEYWORDS:
        assert grids.find_column_indices(grid, kws) == oracle.find_column_indices(grid, kws), grid
    assert grids.detect_id_column(grid) == oracle.detect_id_column(grid), grid
    width = grids.grid_width(grid)
    for cols in ([0], [width - 1], oracle.find_column_indices(grid, ["navn", "name"])):
        got = grids.merge_multirow_entries([list(r) for r in grid], cols)
        assert got == oracle.merge_multirow_entries([list(r) for r in grid], cols), grid
    assert grids.extract_contacts_from_grid(grid) == oracle.extract_contacts_from_grid(grid), grid
    assert grids.extract_projects_from_grid(grid) == oracle.extract_projects_from_grid(grid), grid
    assert grids.extract_tenders_from_grid(grid) == oracle.extract_tenders_from_grid(grid), grid


def _check_text(text: str) -> None:
    for fn in SCALARS:
        assert getattr(scalars, fn)(text) == getattr(oracle, fn)(text), (fn, text)


def _check_document(ir: DocumentIR) -> None:
    assert document.extract_company_info(ir.page_texts) == \
        oracle.extract_company_info(ir.page_texts), ir.page_texts
    assert document.extract_from_text_fallback(ir.page_texts) == \
        oracle.extract_from_text_fallback(ir.page_texts), ir.page_texts
    assert document._gather_tables(ir) == oracle._gather_tables(ir)
    assert document.parse_document(ir) == oracle.parse_document(ir)


def test_grids():
    rng = random.Random("parse-differential:grids")
    for grid in EDGE_GRIDS.values():
        _check_grid(grids.normalize_grid(grid))
    for _ in range(3000):
        _check_grid(_grid(rng))


def test_texts():
    rng = random.Random("parse-differential:texts")
    for text in TEXT_SAMPLES + EDGE_TEXTS + EDGE_PAGES + PAGE_LINES + [None]:
        _check_text(text)
    for _ in range(4000):
        _check_text(_text(rng, 12))
    for _ in range(500):
        _check_text(_page(rng))


def test_month_search_case_folding():
    """extract_date searches the lowercased text for month-year dates
    unless it holds one of scalars._CASE_FOLD_ODD: the characters that
    IGNORECASE matches to [a-z] or to an ASCII letter although their
    lowercase is not that one letter."""
    any_letter = re.compile("[a-z]", re.IGNORECASE)
    odd = set()
    for u in range(0x110000):
        ch = chr(u)
        low = ch.lower()
        folds = bool(any_letter.fullmatch(ch))
        if folds != (len(low) == 1 and "a" <= low <= "z"):
            odd.add(ch)
        elif folds and any(
            bool(re.fullmatch(letter, ch, re.IGNORECASE)) != (low == letter)
            for letter in "abcdefghijklmnopqrstuvwxyz"
        ):
            odd.add(ch)
        elif len(low) != 1:
            odd.add(ch)
    assert odd == set(scalars._CASE_FOLD_ODD)


def test_documents():
    rng = random.Random("parse-differential:documents")
    for pages in ([], [""], [COMPANY_PAGE], [FALLBACK_PAGE], EDGE_PAGES):
        _check_document(DocumentIR(page_texts=list(pages)))
    for _ in range(2000):
        _check_document(_document(rng))


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_pool_documents(seed):
    for i in range(500):
        payload = render_payload(make_doc_spec(i, seed=seed, pdf_share=0.4))
        if not payload:
            continue
        _check_document(payload_to_ir(payload)[0])
