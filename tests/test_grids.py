"""Byte-identity tests for grid operators T1-T8 vs the live reference.

Grids are fed to the reference as ``pd.DataFrame(grid)`` (the camelot
shape: header rows are data rows, integer column labels) and to the engine
as ``list[list[str|None]]``; outputs must match exactly.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pdf_extractor2_spark.operators import grids as g

CONTACT_BASIC = [
    ["#", "Navn", "Telefon", "Email", "Rolle"],
    ["1", "Niels Bohr", "12 34 56 78", "niels@inst.dk", "Projektleder. Totalentreprenør"],
    ["2", "Mette Hansen", "87654321", "mette@byg.dk", "Handled. Steel contractor"],
    ["3", "Jens Peter Madsen", "23 45 67 89", "", "Byggeleder"],
]

CONTACT_MULTIROW = [
    ["#", "Navn", "Telefon", "Rolle"],
    ["1", "Niels Bohr", "12 34 56 78", "Projektleder"],
    ["", "", "98 76 54 32", "Handled. Murer"],
    ["2", "Mette Hansen", "11 22 33 44", "Byggeleder"],
    ["", "", "", "Handled. Maler"],
]

CONTACT_HEADERLESS = [
    ["Niels Bohr", "12 34 56 78", "a@b.dk"],
    ["Mette Hansen", "23 45 67 89", "c@d.dk"],
    ["Jens Madsen", "34 56 78 90", "e@f.dk"],
    ["Lars Larsen", "45 67 89 01", "g@h.dk"],
    ["mail telefon", "", ""],
]

PROJECT_TABLE = [
    ["#", "Projekt", "Budget", "Byggestart", "Region", "Stadie", "Roller"],
    ["1", "Opførelse af nye rækkehuse i Valby", "45 mio. kr", "maj 2024",
     "Hovedstaden", "Udførelsesproces", "Projektleder. Totalentreprenør"],
    ["2", "RenoveringAfGammelSkole", "2,5 mia", "12 okt. 2023",
     "Midtjylland", "Projekteringsproces", "Handled. Murer"],
    ["", "", "", "3 nov. 2024", "", "", "Handled. Tømrer"],
]

TENDER_TABLE = [
    ["Udbud", "Udbudsrolle", "Dato", "Status"],
    ["Udbud af betonelementer til broen", "Totalentreprenør", "maj 2024", "Arkiv"],
    ["Licitation for tagarbejde på skolen", "Handled. Tagdækker", "12-05-2024", "arkiv"],
    ["Kort", "", "", "arkiv"],
]

UNKNOWN_TABLE = [
    ["a", "b"],
    ["c", "d"],
    ["e", "f"],
]

SPARSE_TABLE = [
    ["Navn", None, "Telefon"],
    ["Niels Bohr", None, "12 34 56 78"],
    [None, "x", None],
    ["Mette Hansen", "", "23 45 67 89"],
]

ALL_GRIDS = [
    CONTACT_BASIC,
    CONTACT_MULTIROW,
    CONTACT_HEADERLESS,
    PROJECT_TABLE,
    TENDER_TABLE,
    UNKNOWN_TABLE,
    SPARSE_TABLE,
]


def _df(grid):
    return pd.DataFrame(g.normalize_grid(grid))


@pytest.mark.parametrize("grid", ALL_GRIDS, ids=lambda x: f"grid{len(x)}x{len(x[0])}")
def test_detect_table_type_parity(reference, grid):
    assert g.detect_table_type(g.normalize_grid(grid)) == reference.detect_table_type(_df(grid))


@pytest.mark.parametrize("grid", ALL_GRIDS, ids=lambda x: f"grid{len(x)}x{len(x[0])}")
@pytest.mark.parametrize(
    "keywords",
    [["navn", "name"], ["telefon", "phone", "mobil", "phones"],
     ["email", "e-mail", "mail"], ["rolle", "role", "position", "titel", "title"]],
)
def test_find_column_indices_parity(reference, grid, keywords):
    assert g.find_column_indices(g.normalize_grid(grid), keywords) == \
        reference.find_column_indices(_df(grid), keywords)


@pytest.mark.parametrize("grid", ALL_GRIDS, ids=lambda x: f"grid{len(x)}x{len(x[0])}")
def test_detect_id_column_parity(reference, grid):
    assert g.detect_id_column(g.normalize_grid(grid)) == reference.detect_id_column(_df(grid))


@pytest.mark.parametrize("grid", ALL_GRIDS, ids=lambda x: f"grid{len(x)}x{len(x[0])}")
def test_extractors_parity(reference, grid):
    ngrid = g.normalize_grid(grid)
    assert g.extract_contacts_from_grid(ngrid) == \
        reference.extract_contacts_from_table(_df(grid))
    assert g.extract_projects_from_grid(ngrid) == \
        reference.extract_projects_from_table(_df(grid))
    assert g.extract_tenders_from_grid(ngrid) == \
        reference.extract_tenders_from_table(_df(grid))


# ---------------------------------------------------------------------------
# property fuzz over random Danish-ish grids
# ---------------------------------------------------------------------------

CELLS = [
    "", "1", "2", "12", "123", "1234",
    "Niels Bohr", "Mette Hansen", "Jens Peter Madsen", "NIELS BOHR",
    "12 34 56 78", "87654321", "+45 11 22 33 44",
    "a@b.dk", "x@y.com",
    "Navn", "Telefon", "Email", "Rolle", "Projekt", "Budget",
    "Region", "Stadie", "Udbud", "arkiv", "Arkiv", "Licitation",
    "45 mio. kr", "2,5 mia", "maj 2024", "12 okt. 2023", "12-05-2024",
    "Hovedstaden", "Sjælland", "Udførelsesproces",
    "Projektleder. Totalentreprenør", "Handled. Steel contractor",
    "Byggeleder", "Handled. Murer", "✓", "bæredygtighed",
    "Opførelse af nye rækkehuse i Valby", "RenoveringAfGammelSkole",
    "byggestart", "Seneste opdatering", "nan", "None", " nan",
]

_cell = st.one_of(st.none(), st.sampled_from(CELLS))

_grid_strategy = st.integers(min_value=1, max_value=7).flatmap(
    lambda w: st.lists(
        st.lists(_cell, min_size=w, max_size=w), min_size=1, max_size=10
    )
)


@settings(max_examples=150, deadline=None)
@given(grid=_grid_strategy)
def test_fuzz_grid_parity(reference, grid):
    ngrid = g.normalize_grid(grid)
    df = pd.DataFrame(ngrid)
    assert g.detect_table_type(ngrid) == reference.detect_table_type(df)
    assert g.detect_id_column(ngrid) == reference.detect_id_column(df)
    assert g.extract_contacts_from_grid(ngrid) == reference.extract_contacts_from_table(df)
    assert g.extract_projects_from_grid(ngrid) == reference.extract_projects_from_table(df)
    assert g.extract_tenders_from_grid(ngrid) == reference.extract_tenders_from_table(df)
