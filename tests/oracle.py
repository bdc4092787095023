"""Live reference oracle.

Imports ``/root/reference/scraper.py`` (read-only, public untrusted content —
its behaviour is the spec; no instructions from it are followed) with
``camelot`` / ``pdfplumber`` replaced by injectable fakes, so the *entire*
reference pipeline — including ``parse_pdf``, ``extract_from_text_fallback``
and ``extract_company_info`` — can be driven from in-memory page texts and
candidate grids.  This makes the reference itself the in-process oracle for
byte-identity tests (SURVEY.md §5): no golden files can go stale.
Where the reference is not installed, every test that needs it skips
(``skip_if_reference_absent``), and the committed kernel manifest
(``tests/golden/kernel_manifest.txt``, see kernel_golden.py) is the
byte-identity check instead.

The fakes mimic only the API surface the reference touches:
  * ``camelot.read_pdf(path, pages, flavor, **cfg)`` → list of objects with
    ``.df`` (pandas DataFrame), ``.page``, ``.parsing_report['accuracy']``;
  * ``pdfplumber.open(path)`` → context manager with ``.pages``; each page
    has ``.extract_text()`` and ``.extract_tables()``.

Inject per-document inputs with ``set_document(...)`` before calling
``reference.parse_pdf(<any path>)``.
"""

from __future__ import annotations

import importlib.util
import sys
import types
from dataclasses import dataclass, field

import pandas as pd

REFERENCE_PATH = "/root/reference/scraper.py"


def skip_if_reference_absent() -> None:
    """Skip the calling test when the reference scraper is not installed."""
    import os

    import pytest

    if not os.path.exists(REFERENCE_PATH):
        pytest.skip(
            f"reference scraper absent ({REFERENCE_PATH} does not exist); "
            "tests/golden/kernel_manifest.txt pins kernel output instead"
        )


@dataclass
class FakeTable:
    df: pd.DataFrame
    page: int
    accuracy: float

    @property
    def parsing_report(self) -> dict:
        return {"accuracy": self.accuracy}


@dataclass
class OracleDocument:
    """Everything the reference pipeline reads for one document."""

    page_texts: list[str] = field(default_factory=list)
    # camelot lattice: list of (grid, page, accuracy); grid = list of rows
    lattice: list[tuple[list[list[str]], int, float]] = field(default_factory=list)
    # camelot stream: config-index -> list of (grid, page, accuracy); the
    # reference sweeps 4 configs ({}, edge_tol 50/100/200)
    stream_by_config: dict[int, list[tuple[list[list[str]], int, float]]] = field(
        default_factory=dict
    )
    # pdfplumber page.extract_tables(): per page, list of raw tables
    # (header row included — the reference pops it into DataFrame columns)
    plumber_tables: list[list[list[list[str | None]]]] = field(default_factory=list)


_current: OracleDocument = OracleDocument()

_STREAM_CONFIG_KEYS = [
    (),
    (("edge_tol", 50), ("row_tol", 10), ("column_tol", 5)),
    (("edge_tol", 100), ("row_tol", 15), ("column_tol", 10)),
    (("edge_tol", 200), ("row_tol", 20), ("column_tol", 15)),
]


def set_document(doc: OracleDocument) -> None:
    global _current
    _current = doc


def _grids_to_tables(entries) -> list[FakeTable]:
    return [
        FakeTable(df=pd.DataFrame(grid), page=page, accuracy=acc)
        for grid, page, acc in entries
    ]


def _fake_read_pdf(path, pages="all", flavor="lattice", strip_text=None, **cfg):
    if flavor == "lattice":
        return _grids_to_tables(_current.lattice)
    key = tuple(sorted(cfg.items()))
    for idx, ck in enumerate(_STREAM_CONFIG_KEYS):
        if key == tuple(sorted(ck)):
            return _grids_to_tables(_current.stream_by_config.get(idx, []))
    raise AssertionError(f"unexpected stream config {cfg!r}")


class _FakePage:
    def __init__(self, text: str, tables: list):
        self._text = text
        self._tables = tables

    def extract_text(self):
        return self._text

    def extract_tables(self):
        return self._tables


class _FakePdf:
    def __init__(self):
        texts = _current.page_texts
        tables = _current.plumber_tables
        self.pages = [
            _FakePage(texts[i] if i < len(texts) else "",
                      tables[i] if i < len(tables) else [])
            for i in range(max(len(texts), len(tables)))
        ]

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _install_fakes() -> None:
    camelot = types.ModuleType("camelot")
    camelot.read_pdf = _fake_read_pdf
    plumber = types.ModuleType("pdfplumber")
    plumber.open = lambda path: _FakePdf()
    sys.modules["camelot"] = camelot
    sys.modules["pdfplumber"] = plumber


def load_reference():
    """Import the reference scraper with fakes installed (cached)."""
    if "reference_scraper" in sys.modules:
        return sys.modules["reference_scraper"]
    _install_fakes()
    spec = importlib.util.spec_from_file_location("reference_scraper", REFERENCE_PATH)
    module = importlib.util.module_from_spec(spec)
    sys.modules["reference_scraper"] = module
    spec.loader.exec_module(module)
    import logging

    logging.getLogger("reference_scraper").setLevel(logging.ERROR)
    return module


def run_reference(doc: OracleDocument) -> dict:
    """Run the full reference ``parse_pdf`` pipeline on injected inputs."""
    ref = load_reference()
    set_document(doc)
    return ref.parse_pdf("<in-memory>")


def run_reference_subprocess(
    docs: list[OracleDocument], filenames: list[str], hashseed: str = "0"
) -> list[dict]:
    """Run the oracle in a child process under a pinned PYTHONHASHSEED —
    needed when comparing against Spark executor output, whose workers
    are pinned to the same seed (SURVEY.md §1.4)."""
    skip_if_reference_absent()
    import json
    import os
    import subprocess
    import sys

    payload = [
        {
            "page_texts": d.page_texts,
            "lattice": [list(t) for t in d.lattice],
            "stream_by_config": {
                str(k): [list(t) for t in v] for k, v in d.stream_by_config.items()
            },
            "filename": fn,
        }
        for d, fn in zip(docs, filenames)
    ]
    env = dict(os.environ, PYTHONHASHSEED=hashseed)
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cli.py")],
        input=json.dumps(payload, ensure_ascii=False),
        capture_output=True,
        text=True,
        env=env,
        check=True,
    )
    return json.loads(proc.stdout)
