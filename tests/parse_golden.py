"""Parse golden manifest: what the classifier, the grid extractors, the
scalar extractors, company info, the text fallback and ``parse_document``
return on fixed inputs, one line per call.

    PYTHONHASHSEED=0 python tests/parse_golden.py [OUT]

writes ``tests/golden/parse_manifest.txt``, or OUT (``-`` for stdout).
Each line is tab-separated:

    function  case  output

``output`` is the call's return value as JSON (tuples become lists).
The inputs are those of the reference-parity tests (test_grids,
test_scalars, test_document, test_pdf), which skip where the reference
scraper is not installed: their curated grids, texts, pages and
documents, seeded ``random`` draws from their fuzz vocabularies in place
of the hypothesis strategies, and the 40 corpus PDFs of test_pdf.  Hand-
written edge cases ride along: missing cells, ``'nan'``/``'None'`` cells,
ragged rows, mixed-case headers, multi-phone fallback lines.

No Spark: the manifest runs in a few seconds in-process.
``tests/test_parse_golden.py`` diffs a fresh run against it.  Regenerate
it only when kernel output is meant to change.  The hash seed must be 0:
``extract_emails`` returns ``list(set(...))``, whose order follows it.
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = os.path.join(HERE, "golden", "parse_manifest.txt")

N_RANDOM_GRIDS = 300
N_RANDOM_TEXTS = 300
N_RANDOM_PAGES = 200
N_RANDOM_DOCS = 150

CONTACT_KEYWORDS = [
    ["navn", "name"],
    ["telefon", "phone", "mobil", "phones"],
    ["email", "e-mail", "mail"],
    ["rolle", "role", "position", "titel", "title"],
]

SCALARS = [
    "clean_text", "clean_multiline", "fix_camelcase_boundaries",
    "is_valid_person_name", "extract_phones", "extract_emails",
    "extract_budget", "extract_date", "extract_region", "extract_stage",
    "extract_roles_from_text",
]

EDGE_GRIDS = {
    "none-cells": [[None, None], [None, "Niels Bohr"], [None, None]],
    "nan-cells": [
        ["nan", "Navn", "None"],
        ["1", "Niels Bohr", "nan"],
        ["nan", "nan", "12 34 56 78"],
        ["2", "Mette Hansen", " nan"],
        ["None", "None", "None"],
    ],
    "ragged": [
        ["Navn", "Telefon", "Email", "Rolle"],
        ["Niels Bohr", "12 34 56 78"],
        ["Mette Hansen"],
        ["", "", "", "", "Handled. Murer"],
        ["Jens Madsen", "23 45 67 89", "j@m.dk"],
    ],
    "mixed-case": [
        ["NAVN", "TeLeFoN", "E-MAIL", "ROLLE"],
        ["Niels Bohr", "12 34 56 78", "Niels@Inst.DK", "PROJEKTLEDER. Totalentreprenør"],
        ["METTE HANSEN", "87654321", "m@b.dk", "handled. Steel Contractor"],
        ["Mette Hansen", "+45 23 45 67 89", "", "ByggeLeder"],
    ],
    "multiline-cells": [
        ["#", "Navn", "Telefon", "Rolle"],
        ["1", "Niels Bohr\nProjektleder", "12 34 56 78\n98 76 54 32", "Handled.\nMurer"],
        ["2", "Mette\nHansen", "11 22 33 44", "Byggeleder\nHandled. Maler"],
        ["", "", "", "Sagsansvarlig hos firma"],
    ],
    "project-multirow": [
        ["Projekt", "Budget", "Byggestart", "Region", "Stadie", "Roller"],
        ["OpførelseAfNyeBoliger i Aarhus", "120 mio. kr", "Byggestart maj 2025",
         "Midtjylland", "Skitseprojekt", "Handled. Tømrer"],
        ["", "", "3 feb. 2024", "", "", "Projektleder. Hovedentreprenør"],
        ["Renovering af skolen i Odense", "2,5 mia", "12-05-2024", "Syddanmark",
         "Afsluttet", "✓"],
        ["", "", "", "", "", "bæredygtighed"],
    ],
    "tender-mixed": [
        ["UDBUD", "Licitation", "Dato"],
        ["Udbud af tagarbejde på hallen", "Handled. Tagdækker", "jan 2026"],
        ["ARKIV", "", ""],
        ["Kort udbud", "Totalentreprenør", "2025"],
        ["arkiv arkiv arkiv", "udbudsrolle", "12.05.2024"],
    ],
    "id-column": [
        ["1", "Niels Bohr", "12 34 56 78"],
        ["", "", "98 76 54 32"],
        ["2", "Mette Hansen", "11 22 33 44"],
        ["3", "Jens Madsen", "22 33 44 55"],
        ["999", "Lars Larsen", "33 44 55 66"],
    ],
    "one-column": [["Navn"], ["Niels Bohr"], ["Mette Hansen"], ["Jens Madsen"]],
    "one-row": [["Navn", "Telefon", "Email"]],
    "empty": [],
}

EDGE_TEXTS = [
    "Byggeleder. VVS entreprenør\nHandled. Murer\nNiels Bohr\n12 34 56 78",
    "Projekteringsleder Hansen. Totalentreprenør og Hovedentreprenør",
    "project planning leader. Head of project. Delivery planner",
    "Handled. Purchasers. Steel contractor. Concrete element producer",
    "tlf 12 34 56 78 og 87 65 43 21, cvr 11223344",
    "OpførelseAfNyeBoliger ÆbleGrød\tmed  Fløde\n\n\nslut",
    "5 januar 2025, 12/05/2024 og 2031",
    "x@y.dk, x@y.dk; z@w.com a@b.c",
]

EDGE_PAGES = [
    # two phones on a name line, then continuation lines
    "KONTAKTER\nNiels Bohr 12 34 56 78 87 65 43 21 Projektleder\n"
    "niels@inst.dk\nHandled. Murer\nMette Hansen\n11 22 33 44 22 33 44 55\n"
    "m@h.dk\nByggeleder\nPROJEKTER\n",
    # a terminator mid-contact, a header line, a name-only line
    "Kontakter\nNavn Telefon\nJens Peter Madsen\n23 45 67 89\nUdbud\nLars Larsen 34 56 78 90",
    # project section: budget-less trigger lines, digits-only parts, stop words
    "PROJEKTER\nOpførelse af 24 nyeRækkehuse iÅrhus 45 mio. kr maj 2024 Hovedstaden\n"
    "renovering af tag\n12 34 ombygning\nEtablering af skole 2,5 mia Udførelsesproces\n"
    "Projektleder. Totalentreprenør 3 billion\nKONTAKTER\nOpførelse efter terminator",
    # company block: every field, suffix line too long or all caps
    "BYGGEDATA A/S\nByggeData A/S\nOrg. nr 87654321\nid nr 12\n"
    "mobil 20 30 40 50\nhttp://x.dk/a b\n" + "Langt Firmanavn ApS " * 5,
]


def _page(rng: random.Random, vocab: list[str]) -> str:
    return "\n".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))


def _grid(rng: random.Random, cells: list[str]) -> list[list[str | None]]:
    width = rng.randint(1, 7)
    return [
        [None if rng.randrange(len(cells) + 1) == 0 else rng.choice(cells)
         for _ in range(width)]
        for _ in range(rng.randint(1, 10))
    ]


# the raw-text fuzz alphabet: letters (Danish too), digits, punctuation,
# separators and control characters
_RAW_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZæøåÆØÅéü"
    "0123456789" + ".,;:-+@/()%!?'\"✓" + " \t\n\r\x0b\x0c\xa0 "
)


def _raw_text(rng: random.Random) -> str:
    return "".join(rng.choice(_RAW_ALPHABET) for _ in range(rng.randint(0, 200)))


def cases():
    """(grids, texts, company pages, fallback page lists, documents):
    name-keyed dicts of the manifest's inputs."""
    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    from pdf_extractor2_spark.operators.document import CandidateTable, DocumentIR
    from pdf_extractor2_spark.operators.grids import normalize_grid
    from pdf_extractor2_spark.plans.extract_job import payload_to_ir
    from pdf_extractor2_spark.sources.corpus import make_doc_spec
    from pdf_extractor2_spark.sources.pdf_writer import render_pdf

    import test_grids
    from test_document import COMPANY_PAGE, FALLBACK_PAGE, IRS, PAGE_LINES
    from test_scalars import DANISH_WORDS, TEXT_SAMPLES

    rng = random.Random("parse-golden")

    grids = {
        name: test_grids.__dict__[name]
        for name in ("CONTACT_BASIC", "CONTACT_MULTIROW", "CONTACT_HEADERLESS",
                     "PROJECT_TABLE", "TENDER_TABLE", "UNKNOWN_TABLE", "SPARSE_TABLE")
    }
    grids.update(EDGE_GRIDS)
    for i in range(N_RANDOM_GRIDS):
        grids[f"rand{i:03d}"] = _grid(rng, test_grids.CELLS)
    grids = {name: normalize_grid(grid) for name, grid in grids.items()}

    texts = {f"curated{i:03d}": t for i, t in enumerate(TEXT_SAMPLES)}
    texts.update({f"edge{i}": t for i, t in enumerate(EDGE_TEXTS)})
    for i in range(N_RANDOM_TEXTS):
        if i % 2:
            texts[f"rand{i:03d}"] = _raw_text(rng)
        else:
            words = [rng.choice(DANISH_WORDS) for _ in range(rng.randint(0, 30))]
            texts[f"rand{i:03d}"] = " ".join(words)

    pages = {"company": COMPANY_PAGE, "fallback": FALLBACK_PAGE, "blank": "",
             "cvr-tlf": "CVR 12345678 tlf 11 22 33 44"}
    pages.update({f"edge{i}": p for i, p in enumerate(EDGE_PAGES)})
    for i in range(N_RANDOM_PAGES):
        pages[f"rand{i:03d}"] = _page(rng, PAGE_LINES)

    page_lists = {"fallback": [FALLBACK_PAGE], "company+fallback": [COMPANY_PAGE, FALLBACK_PAGE],
                  "blank": [""], "marker-only": ["KONTAKTER"], "none": []}
    page_lists.update({f"edge{i}": [p] for i, p in enumerate(EDGE_PAGES)})
    page_lists["edge-all"] = list(EDGE_PAGES)
    for i in range(N_RANDOM_PAGES):
        page_lists[f"rand{i:03d}"] = [_page(rng, PAGE_LINES) for _ in range(rng.randint(0, 3))]

    def ct(grid, page=1, method="lattice", acc=95.0):
        return CandidateTable(grid=normalize_grid(grid), page=page, method=method, accuracy=acc)

    docs = dict(IRS)
    docs["edge-tables"] = DocumentIR(
        page_texts=list(EDGE_PAGES),
        lattice_tables=[ct(g, page=i + 1) for i, g in enumerate(EDGE_GRIDS.values())],
    )
    docs["stream-tie"] = DocumentIR(
        page_texts=[COMPANY_PAGE],
        stream_tables_by_config=[
            [ct(EDGE_GRIDS["mixed-case"], method="stream", acc=80.0)],
            [ct(EDGE_GRIDS["nan-cells"], method="stream", acc=80.0)],
            [ct(EDGE_GRIDS["mixed-case"], method="stream", acc=80.0),
             ct(EDGE_GRIDS["mixed-case"], method="stream", acc=80.0)],
            [],
        ],
    )
    for i in range(N_RANDOM_DOCS):
        doc_pages = [_page(rng, PAGE_LINES) for _ in range(rng.randint(0, 3))]
        tables = [ct(_grid(rng, test_grids.CELLS), page=j + 1) for j in range(rng.randint(0, 3))]
        docs[f"rand{i:03d}"] = DocumentIR(page_texts=doc_pages, lattice_tables=tables)
    for idx in range(40):
        spec = make_doc_spec(idx, seed=11, pdf_share=0.9)
        if spec.payload_kind == "pdf":
            docs[f"pdf{idx:02d}"] = payload_to_ir(render_pdf(spec))[0]

    return grids, texts, pages, page_lists, docs


def manifest_lines() -> list[str]:
    grids, texts, pages, page_lists, docs = cases()
    from pdf_extractor2_spark.functions import scalars
    from pdf_extractor2_spark.operators import grids as g
    from pdf_extractor2_spark.operators.document import (
        extract_company_info,
        extract_from_text_fallback,
        parse_document,
        result_with_raw_json,
    )
    from test_document import IRS

    lines = []

    def emit(fn: str, case: str, value) -> None:
        lines.append(f"{fn}\t{case}\t{json.dumps(value, ensure_ascii=False)}")

    for name, grid in grids.items():
        emit("detect_table_type", name, g.detect_table_type(grid))
        for kws in CONTACT_KEYWORDS:
            emit("find_column_indices", f"{name}|{','.join(kws)}",
                 g.find_column_indices(grid, kws))
        emit("detect_id_column", name, g.detect_id_column(grid))
        width = g.grid_width(grid)
        for cols in ([], [0], [width - 1])[: 3 if width > 1 else 2]:
            emit("merge_multirow_entries", f"{name}|{cols}",
                 g.merge_multirow_entries(grid, cols))
        emit("extract_contacts_from_grid", name, g.extract_contacts_from_grid(grid))
        emit("extract_projects_from_grid", name, g.extract_projects_from_grid(grid))
        emit("extract_tenders_from_grid", name, g.extract_tenders_from_grid(grid))
    for name, text in texts.items():
        for fn in SCALARS:
            emit(fn, name, getattr(scalars, fn)(text))
    for name, page in pages.items():
        emit("extract_company_info", name, extract_company_info([page]))
    for name, texts_ in page_lists.items():
        emit("extract_from_text_fallback", name, extract_from_text_fallback(texts_))
    for name, ir in docs.items():
        emit("parse_document", name, parse_document(ir))
        if name in IRS:
            emit("raw_json", name,
                 result_with_raw_json(parse_document(ir), f"{name}.pdf")["raw_json"])
    return lines


def main(argv: list[str]) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        print("parse_golden: run with PYTHONHASHSEED=0 (extract_emails' set "
              "order follows the hash seed)", file=sys.stderr)
        return 2
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
