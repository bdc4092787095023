"""Per-document table operators (T1-T8 in SURVEY.md §2.3).

Candidate tables travel through the engine as plain rectangular grids —
``list[list[str | None]]`` where ``None`` marks a missing cell (the pandas
NaN analogue).  They are per-document and tiny, so they stay inside the
Arrow UDF and never become Spark-level relations (SURVEY.md §1.3); the
conceptual Spark analogues are noted per function.

Behaviour is byte-identical to the reference table pipeline
(``/root/reference/scraper.py``; parity cites below).  The reference
manipulates ``pd.DataFrame``s with ``iloc`` row loops; this module works on
lists directly — same semantics, no pandas block overhead per table.

Missing-cell convention: wherever the reference calls ``str(cell)`` without
a ``pd.notna`` guard, a missing cell stringifies to ``'None'``/``'nan'`` —
both are members of every exclusion list the reference checks, so mapping
``None -> 'None'`` preserves behaviour exactly.

Keyword tests search one lowered text per scope (``_lowered_text``): the
whole grid for the classifier, a row for the header skip, a column's
first five cells for the column finder.  The contact extractor extracts
each cell's phones and e-mails once; the project and tender extractors
hand their row text, already normalised, straight to the scalar field
searches.  tests/test_parse_differential.py holds every function here to
the frozen pre-change copy in tests/oracle.py.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterable, Optional

from ..functions.scalars import (
    _any_of,
    _budget,
    _count_person_names,
    _date,
    _region,
    _roles,
    _stage,
    _DATE_DAY_MONTH_YEAR,
    clean_multiline,
    clean_text,
    extract_emails,
    extract_phones,
    extract_roles_from_text,
    fix_camelcase_boundaries,
    is_valid_person_name,
)

import re

Grid = list[list[Optional[str]]]

_EMPTYISH = ("", "nan", "None")

_PROJECT_NAME_BUDGET_RE = re.compile(r"^\d+\s+(mio|mia)")
_PROJECT_NAME_STOP_RE = _any_of(("hovedstaden", "sjælland", "entr.", "totalentreprenør"))
_PROJECT_NAME_DATE_RE = re.compile(r"^\d{1,2}\s+\w+\.?\s+\d{4}")


def _s(cell: Optional[str]) -> str:
    """Unguarded ``str(cell)`` analogue: missing -> 'None'."""
    return "None" if cell is None else str(cell)


def _lowered_text(cells: Iterable[Optional[str]]) -> str:
    """The present cells, space-joined and lowercased: the text the
    classifier and header skip search for keywords (the column finder
    builds its column texts the same way).

    Lowering the joined text in one call equals joining the lowered
    cells for every keyword: ``str.lower`` maps characters one by one,
    save for the Greek final sigma, which no keyword contains."""
    return " ".join([cell for cell in cells if cell is not None]).lower()


def normalize_grid(rows: list[list[Optional[str]]]) -> Grid:
    """Pad ragged rows to a rectangle (pandas does this on construction)."""
    if not rows:
        return []
    width = max(len(r) for r in rows)
    return [list(r) + [None] * (width - len(r)) for r in rows]


def grid_width(grid: Grid) -> int:
    return len(grid[0]) if grid else 0


# ---------------------------------------------------------------------------
# T1: table classifier
# ---------------------------------------------------------------------------

def detect_table_type(grid: Grid) -> tuple[str, float]:
    """Classify a candidate grid as contact/project/tender/unknown with a
    confidence in [0,1] (scraper.py:329-404).

    Conceptually a CASE WHEN over aggregated token counts; stays in-UDF
    because the dispatch (operators/document.py) is per-document.
    """
    if not grid or len(grid) < 2:
        return ("unknown", 0.0)

    all_text = _lowered_text(chain.from_iterable(grid))

    contact = 0.0
    if "navn" in all_text or "name" in all_text:
        contact += 2.0
    if ("telefon" in all_text or "phone" in all_text or "mobil" in all_text
            or "tlf" in all_text):
        contact += 3.0
    if "email" in all_text or "e-mail" in all_text or "mail" in all_text:
        contact += 2.0
    if (
        "rolle" in all_text
        or "role" in all_text
        or "kontaktperson" in all_text
        or "projektleder" in all_text
    ):
        contact += 2.0
    if "firma" in all_text or "company" in all_text:
        contact += 1.0

    name_count = _count_person_names([c for row in grid[:20] for c in row if c is not None])
    if name_count >= 5:
        contact += 3.0
    elif name_count >= 2:
        contact += 1.0

    project = 0.0
    if "projekt" in all_text:
        project += 3.0
    if "budget" in all_text or "mio" in all_text or "kr" in all_text:
        project += 3.0
    if "dato" in all_text or "date" in all_text or "start" in all_text:
        project += 2.0
    if "region" in all_text or "hovedstaden" in all_text:
        project += 2.0
    if "stadie" in all_text or "udførelse" in all_text or "stage" in all_text:
        project += 2.0
    if "bæredygtighed" in all_text or "sustainability" in all_text:
        project += 2.0
    if "seneste" in all_text and "opdatering" in all_text:
        project += 1.5
    if "roller" in all_text and "projekt" in all_text:
        project += 1.0

    tender = 0.0
    if "udbud" in all_text:
        tender += 5.0
    if "licitation" in all_text:
        tender += 3.0
    if all_text.count("arkiv") >= 3:
        tender += 2.0
    if "udbudsrolle" in all_text:
        tender += 2.0

    scores = {"contact": contact, "project": project, "tender": tender}
    best = max(scores, key=scores.get)
    best_score = scores[best]
    if best_score < 3.0:
        return ("unknown", 0.0)
    return (best, min(best_score / 10.0, 1.0))


# ---------------------------------------------------------------------------
# T2-T3: column resolution
# ---------------------------------------------------------------------------

def find_column_indices(grid: Grid, keywords: list[str]) -> list[int]:
    """Columns whose first ≤5 cells contain any keyword, case-insensitive
    (scraper.py:410-426). Schema-inference analogue of column resolution."""
    kws = [kw.lower() for kw in keywords]
    return _columns_with(_column_texts(grid), kws)


def _column_texts(grid: Grid) -> list[str]:
    """Each column's first ≤5 non-None cells, joined and lowered: what
    find_column_indices searches, built once for several keyword lists."""
    top = grid[:5]
    return [" ".join([c for row in top if (c := row[col]) is not None]).lower()
            for col in range(grid_width(grid))]


def _columns_with(col_texts: list[str], kws: list[str]) -> list[int]:
    """The columns whose text holds any of the lowercase keywords kws."""
    return [col for col, text in enumerate(col_texts) if any(kw in text for kw in kws)]


def detect_id_column(grid: Grid) -> Optional[int]:
    """Find a small-integer ID column among the first three columns
    (scraper.py:428-443): ≥3 values of ≤3 digits in the first 10 rows,
    with max-min ≤ 2×count."""
    top = grid[:10]
    for col in range(min(3, grid_width(grid))):
        numbers: list[int] = []
        for row in top:
            cell = row[col]
            if cell is not None:  # a missing cell reads 'None': no digits
                cell = cell.strip()
                if cell.isdigit() and len(cell) <= 3:
                    numbers.append(int(cell))
        if len(numbers) >= 3:
            ordered = sorted(numbers)
            if ordered[-1] - ordered[0] <= len(numbers) * 2:
                return col
    return None


# ---------------------------------------------------------------------------
# T4: multi-row entry merge (the one stateful/order-dependent operator)
# ---------------------------------------------------------------------------

def merge_multirow_entries(grid: Grid, boundary_cols: list[int]) -> Grid:
    """Fold continuation rows into their entry row (scraper.py:445-492).

    A row starts a new entry when the ID column holds digits (if an ID
    column exists) else when the primary boundary column is non-empty.
    Continuation rows fill empty cells or append ``'\\n' + value``.

    Spark analogue: ``session_id = sum(is_new) OVER (ORDER BY row_idx)``
    then ``groupBy(session_id).agg(concat_ws)`` — kept in-UDF because
    grids are per-document and tiny (SURVEY.md §2.8).
    """
    if not grid or not boundary_cols:
        return grid

    id_col = detect_id_column(grid)
    primary = boundary_cols[0]
    width = grid_width(grid)

    merged: list[list[Optional[str]]] = []
    current: Optional[list[Optional[str]]] = None

    for row in grid:
        if id_col is not None:
            is_new = _s(row[id_col]).strip().isdigit()
        else:
            raw = _s(row[primary]) if primary < len(row) else ""
            # note: the membership test is on the *unstripped* value
            is_new = bool(raw.strip()) and raw not in _EMPTYISH

        if is_new:
            if current is not None:
                merged.append(current)
            current = list(row)
        elif current is not None:
            for col in range(width):
                value = _s(row[col]).strip()
                if value and value not in _EMPTYISH:
                    existing = _s(current[col]).strip()
                    if not existing or existing in _EMPTYISH:
                        current[col] = value
                    else:
                        current[col] = existing + "\n" + value

    if current is not None:
        merged.append(current)

    return merged if merged else grid


# ---------------------------------------------------------------------------
# header-row skip (T5)
# ---------------------------------------------------------------------------

_CONTACT_HEADER_RE = _any_of(("navn", "name", "firma", "telefon", "rolle", "role"))
_PROJECT_HEADER_RE = _any_of(("projekt", "budget", "region", "rolle", "byggestart"))
_TENDER_HEADER_RE = _any_of(("udbud", "licitation"))


def _header_skip(grid: Grid, keywords: re.Pattern, scan: int) -> int:
    """Row index after the *last* keyword-bearing row among the first
    ``scan`` rows (scraper.py:539-544, :766-771, :894-898)."""
    start = 0
    for i in range(min(scan, len(grid))):
        if keywords.search(_lowered_text(grid[i])):
            start = i + 1
    return start


# ---------------------------------------------------------------------------
# T6: contacts
# ---------------------------------------------------------------------------

def extract_contacts_from_grid(grid: Grid) -> list[dict]:
    """Contact rows with phones/emails/two-tier roles (scraper.py:494-664).

    Corpus-level shape: projection + filter + in-doc dedup, exploded to
    one row per contact by the kernel's nested-array output + F.explode.
    """
    col_texts = _column_texts(grid)
    name_cols = _columns_with(col_texts, ["navn", "name"])
    phone_cols = _columns_with(col_texts, ["telefon", "phone", "mobil", "phones"])
    email_cols = _columns_with(col_texts, ["email", "e-mail", "mail"])
    role_cols = _columns_with(col_texts, ["rolle", "role", "position", "titel", "title"])

    if not name_cols:
        counts = []
        for col in range(grid_width(grid)):
            n = _count_person_names([row[col] for row in grid if row[col] is not None])
            counts.append((col, n))
        if counts:
            best_col, best_n = max(counts, key=lambda t: t[1])
            if best_n >= 3:
                name_cols = [best_col]

    if not name_cols:
        return []

    grid = merge_multirow_entries(grid, name_cols)
    id_col = detect_id_column(grid)
    start_row = _header_skip(grid, _CONTACT_HEADER_RE, 10)

    contacts: list[dict] = []
    width = grid_width(grid)

    for row in grid[start_row:]:
        contact: dict = {}

        if id_col is not None and id_col < len(row):
            cid = _s(row[id_col]).strip()
            if cid.isdigit():
                contact["id"] = cid

        for nc in name_cols:
            if nc < len(row):
                name = clean_text(_s(row[nc]))
                if name and is_valid_person_name(name):
                    contact["name"] = name
                    break
        if "name" not in contact:
            continue

        # the phone columns come first, then every column again: one
        # extraction per cell, and first-seen order decides
        present = row[:width]
        phones = [extract_phones(str(c)) if c is not None else () for c in present]
        unique_phones = list(dict.fromkeys(
            [p for col in phone_cols if col < len(phones) for p in phones[col]]
            + [p for ps in phones for p in ps]
        ))
        if unique_phones:
            if len(unique_phones) == 1:
                contact["phone"] = unique_phones[0]
            else:
                contact["phones"] = unique_phones
                contact["phone"] = unique_phones[0]

        emails = [extract_emails(str(c)) if c is not None else () for c in present]
        unique_emails = list(dict.fromkeys(
            [e for col in email_cols if col < len(emails) for e in emails[col]]
            + [e for es in emails for e in es]
        ))
        if unique_emails:
            if len(unique_emails) == 1:
                contact["email"] = unique_emails[0]
            else:
                contact["emails"] = unique_emails
                contact["email"] = unique_emails[0]

        proj_roles: list[str] = []
        handled: list[str] = []
        if role_cols:
            for col in role_cols:
                if col < len(row) and row[col] is not None:
                    roles = extract_roles_from_text(str(row[col]))
                    proj_roles.extend(roles["project_roles"])
                    handled.extend(roles["handled_roles"])
        if not proj_roles and not handled:
            for col in range(width):
                if col not in name_cols and col not in phone_cols and row[col] is not None:
                    roles = extract_roles_from_text(str(row[col]))
                    if roles["project_roles"] or roles["handled_roles"]:
                        proj_roles.extend(roles["project_roles"])
                        handled.extend(roles["handled_roles"])
        if proj_roles:
            contact["project_roles"] = list(dict.fromkeys(proj_roles))[:5]
        if handled:
            contact["handled_roles"] = list(dict.fromkeys(handled))[:10]

        if (
            "phone" in contact
            or "email" in contact
            or "project_roles" in contact
            or "handled_roles" in contact
        ):
            contacts.append(contact)

    seen: set = set()
    unique: list[dict] = []
    for contact in contacts:
        key = (contact.get("name", ""), contact.get("phone", ""), contact.get("email", ""))
        if key not in seen:
            seen.add(key)
            unique.append(contact)
    return unique


# ---------------------------------------------------------------------------
# T7: projects
# ---------------------------------------------------------------------------

def extract_projects_from_grid(grid: Grid) -> list[dict]:
    """Project rows with budget/date/region/stage/roles (scraper.py:758-881).

    Name selection is a priority-ordered coalesce over filtered candidates;
    ``last_updated`` keeps the *last* day-month-year match among cells that
    do not mention 'byggestart'.
    """
    start_row = _header_skip(grid, _PROJECT_HEADER_RE, 10)
    data = grid[start_row:] if start_row < len(grid) else list(grid)
    data = merge_multirow_entries(data, [0])
    id_col = detect_id_column(data)

    projects: list[dict] = []

    for row in data:
        project: dict = {}

        if id_col is not None and id_col < len(row):
            pid = _s(row[id_col]).strip().split("\n")[0].strip()
            if pid.isdigit():
                project["id"] = pid

        # clean_multiline is empty exactly for blank cells
        cells = [c for c in (clean_multiline(str(cell)) for cell in row if cell is not None) if c]
        if not cells:
            continue
        lowered = [cell.lower() for cell in cells]

        name = None
        for cell, low in zip(cells, lowered):
            if (
                len(cell) > 15
                and not _PROJECT_NAME_BUDGET_RE.match(low)
                and not _PROJECT_NAME_STOP_RE.search(low)
                and not _PROJECT_NAME_DATE_RE.match(cell)
            ):
                name = cell
                break
        if not name:
            for cell in cells:
                if len(cell) > 10:
                    name = cell
                    break
        if not name:
            continue

        project["name"] = fix_camelcase_boundaries(clean_text(name))

        # normalised cells joined by single spaces: clean_multiline would
        # return this text unchanged, so the field searches run on it as is
        all_text = " ".join(cells)

        budget = _budget(all_text)
        if budget:
            project["budget"] = budget
        date = _date(all_text)
        if date:
            project["start_date"] = date
        region = _region(all_text)
        if region:
            project["region"] = region
        stage = _stage(all_text)
        if stage:
            project["stage"] = stage

        update_date = None
        for cell, low in zip(cells, lowered):
            if "byggestart" not in low:
                m = _DATE_DAY_MONTH_YEAR.search(cell)
                if m:
                    update_date = clean_text(m.group(0))
        if update_date:
            project["last_updated"] = update_date

        roles = _roles(all_text)
        if roles["project_roles"]:
            project["project_roles"] = roles["project_roles"][:3]
        if roles["handled_roles"]:
            project["handled_roles"] = roles["handled_roles"][:5]

        if "✓" in all_text or "bæredygtighed" in all_text.lower():
            project["sustainability"] = True

        if len(project) >= 2:
            projects.append(project)

    seen: set = set()
    unique: list[dict] = []
    for project in projects:
        name_key = project.get("name", "")
        if name_key and name_key not in seen:
            seen.add(name_key)
            unique.append(project)
    return unique


# ---------------------------------------------------------------------------
# T8: tenders
# ---------------------------------------------------------------------------

def extract_tenders_from_grid(grid: Grid) -> list[dict]:
    """Tender rows (scraper.py:887-942)."""
    start_row = _header_skip(grid, _TENDER_HEADER_RE, 5)

    tenders: list[dict] = []
    for row in grid[start_row:]:
        tender: dict = {}
        # clean_text is empty exactly for blank cells
        cells = [c for c in (clean_text(str(cell)) for cell in row if cell is not None) if c]
        if not cells:
            continue

        for cell in cells:
            if len(cell) > 10 and "arkiv" not in cell.lower():
                tender["name"] = cell
                break
        if "name" not in tender and cells:
            tender["name"] = cells[0]

        # whitespace-collapsed cells joined by single spaces: already
        # clean_multiline's output, as in the project extractor
        all_text = " ".join(cells)
        roles = _roles(all_text)
        if roles["handled_roles"]:
            tender["trade"] = roles["handled_roles"][0]
        elif roles["project_roles"]:
            tender["trade"] = roles["project_roles"][0]

        date = _date(all_text)
        if date:
            tender["date"] = date
        if "arkiv" in all_text.lower():
            tender["status"] = "Archived"

        if "name" in tender:
            tenders.append(tender)
    return tenders
