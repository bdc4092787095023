"""Per-document extraction orchestrator (SURVEY.md §2.11).

One call = one corpus row.  Input is the parsed intermediate representation
built by the payload front-ends (sources/html_extract.py,
sources/pdf_reader.py): per-page texts plus candidate grids from the two
extraction profiles, lattice and stream.  Output is the reference-shaped
result dict and its ``raw_json`` serialization — byte-identical to running
the reference pipeline (``scraper.py:1160-1358``) on the same IR.

The in-kernel "physical plan" replicated verbatim (it is deterministic
model selection, not something Catalyst can express — SURVEY.md §4):
stream-config scoring, duplicate-table elimination, confidence pruning,
and the adaptive text fallback when tables yield <1 contact / <2 projects.

Call structure, kept lean because per-call interpreter overhead is most
of this layer's cost: each fallback scanner finds its page's first
section marker with one search and walks the lines from there; a
project line's budget is extracted once; a contact line's words reach
the person-name check only in runs with two capitals; duplicate tables
are found through a set of grids.
tests/test_parse_differential.py holds all of it to the frozen
pre-change copy in tests/oracle.py.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from ..functions.scalars import (
    _any_of,
    extract_budget,
    extract_date,
    extract_emails,
    extract_phones,
    extract_region,
    extract_roles_from_text,
    extract_stage,
    fix_camelcase_boundaries,
    is_valid_person_name,
)
from .grids import (
    Grid,
    detect_table_type,
    extract_contacts_from_grid,
    extract_projects_from_grid,
    extract_tenders_from_grid,
)

_CVR_RE = re.compile(r"\b(\d{8})\b")
_ANY_NUM_RE = re.compile(r"\b(\d+)\b")
_URL_RE = re.compile(r"(https?://[^\s]+)")
_DIGITS_ONLY_RE = re.compile(r"^\d+$")

_CONTACT_SECTION_MARKERS = ("KONTAKTER", "CONTACTS", "Kontakter")
_CONTACT_TERMINATORS = (
    "PROJEKTER", "PROJECTS", "Projekter", "OPLYSNINGER", "Hubexo", "UDBUD", "Udbud",
)
_PROJECT_SECTION_MARKERS = ("PROJEKTER", "PROJECTS", "Projekter")
_PROJECT_TERMINATORS = (
    "KONTAKTER", "CONTACTS", "Kontakter", "OPLYSNINGER", "UDBUD", "Udbud",
)
_PROJECT_TRIGGER_KWS = ("opførelse", "renovering", "ombygning", "etablering")
_PROJECT_NAME_STOP_SUBSTRINGS = ("mio", "mia", "hovedstaden", "entr", "kr.")

_CONTACT_SECTION_RE = _any_of(_CONTACT_SECTION_MARKERS)
_CONTACT_TERMINATOR_RE = _any_of(_CONTACT_TERMINATORS)
_PROJECT_SECTION_RE = _any_of(_PROJECT_SECTION_MARKERS)
_PROJECT_TERMINATOR_RE = _any_of(_PROJECT_TERMINATORS)
_PROJECT_TRIGGER_RE = _any_of(_PROJECT_TRIGGER_KWS)
_PROJECT_NAME_STOP_RE = _any_of(_PROJECT_NAME_STOP_SUBSTRINGS)


@dataclass
class CandidateTable:
    """One extracted table: grid + provenance (scraper.py:1178-1183)."""

    grid: Grid
    page: int
    method: str
    accuracy: float


@dataclass
class DocumentIR:
    """Front-end output for one document — the kernel's entire input.

    The reference's third table source, pdfplumber, always yields []
    (its cleanup raises under the pinned pandas; SURVEY.md §8 S4), so the
    IR has no channel for it."""

    page_texts: list[str] = field(default_factory=list)
    lattice_tables: list[CandidateTable] = field(default_factory=list)
    # the four stream tolerance profiles, index-aligned with the
    # reference's config sweep (scraper.py:1192-1197)
    stream_tables_by_config: list[list[CandidateTable]] = field(default_factory=list)


# ---------------------------------------------------------------------------
# company info (scraper.py:1403-1454)
# ---------------------------------------------------------------------------

def extract_company_info(page_texts: list[str]) -> dict:
    """First-page company block: cvr, id_nr, email, website, phone, name —
    keys inserted in first-hit order over the first 40 lines."""
    info: dict = {}
    if not page_texts:
        return info

    for line in (page_texts[0] or "").split("\n")[:40]:
        line = line.strip()
        lowered = line.lower()

        if "cvr" in lowered or "org nr" in lowered or "org. nr" in lowered:
            m = _CVR_RE.search(line)
            if m:
                info["cvr"] = m.group(1)

        if "id nr" in lowered:
            m = _ANY_NUM_RE.search(line)
            if m:
                info["id_nr"] = m.group(1)

        if "email" not in info and "@" in line:
            emails = extract_emails(line)
            if emails:
                info["email"] = emails[0]

        if "http" in lowered:
            m = _URL_RE.search(line)
            if m:
                info["website"] = m.group(1)

        if "phone" not in info:
            if ("telefon" in lowered or "phone" in lowered or "tlf" in lowered
                    or "mobil" in lowered):
                if "cvr" not in lowered and "org nr" not in lowered:
                    phones = extract_phones(line)
                    if phones:
                        info["phone"] = phones[0]

        if "name" not in info:
            if (" A/S" in line or " ApS" in line or " A.S" in line or " IVS" in line
                    or " I/S" in line):
                if len(line) < 80 and not line.isupper():
                    info["name"] = line

    return info


# ---------------------------------------------------------------------------
# text fallback (scraper.py:985-1154)
# ---------------------------------------------------------------------------

def _lines_from_first(text: str, marker: re.Pattern) -> list[str]:
    """The lines of ``text`` from the first one that holds a ``marker``
    match on, or [] without one: up to that line a section scanner only
    looks for its marker, so one search over the page replaces a search
    per line (no marker spans a line break)."""
    m = marker.search(text)
    if not m:
        return []
    return text[text.rfind("\n", 0, m.start()) + 1 :].split("\n")


def _fallback_contacts_from_page(text: str, contacts: list[dict]) -> None:
    in_section = False
    current: dict | None = None

    for line in _lines_from_first(text, _CONTACT_SECTION_RE):
        line_clean = line.strip()

        if _CONTACT_SECTION_RE.search(line):
            in_section = True
            continue

        if in_section and _CONTACT_TERMINATOR_RE.search(line):
            # reference quirk (scraper.py:1009-1011 + 1087-1088): the
            # current contact is appended at the terminator AND again
            # after the loop — the duplicate only disappears in the
            # parse-level dedup; replicated for byte-identity
            if current:
                contacts.append(current)
            break

        if not in_section:
            continue

        if "Navn" in line and "Telefon" in line:
            continue

        phones_in_line = extract_phones(line)
        if phones_in_line:
            words = line_clean.split()
            # a person name has at least two capitalised words, so only
            # the word runs that do reach the name check
            caps = [w[0].isupper() for w in words]
            candidates: list[str] = []
            for j in range(len(words) - 1):
                pair_caps = caps[j] + caps[j + 1]
                if pair_caps == 2:
                    two = words[j] + " " + words[j + 1]
                    if is_valid_person_name(two):
                        candidates.append(two)
                if j < len(words) - 2 and pair_caps + caps[j + 2] >= 2:
                    three = " ".join(words[j : j + 3])
                    if is_valid_person_name(three):
                        candidates.append(three)

            if candidates:
                if current:
                    contacts.append(current)
                current = {"name": max(candidates, key=len)}
                if len(phones_in_line) == 1:
                    current["phone"] = phones_in_line[0]
                else:
                    current["phones"] = phones_in_line
                    current["phone"] = phones_in_line[0]
                emails = extract_emails(line)
                if emails:
                    current["email"] = emails[0]
                roles = extract_roles_from_text(line)
                if roles["project_roles"]:
                    current["project_roles"] = roles["project_roles"]
                if roles["handled_roles"]:
                    current["handled_roles"] = roles["handled_roles"]

        elif is_valid_person_name(line_clean):
            if current:
                contacts.append(current)
            current = {"name": line_clean}

        elif current:
            # the reference also takes this line's phones here, but the
            # line reaches this branch only when it has none
            emails = extract_emails(line)
            if emails and "email" not in current:
                current["email"] = emails[0]
            roles = extract_roles_from_text(line)
            if roles["project_roles"]:
                current.setdefault("project_roles", []).extend(roles["project_roles"])
            if roles["handled_roles"]:
                current.setdefault("handled_roles", []).extend(roles["handled_roles"])

    if current:
        contacts.append(current)


def _fallback_projects_from_page(text: str, projects: list[dict]) -> None:
    in_section = False
    for line in _lines_from_first(text, _PROJECT_SECTION_RE):
        if _PROJECT_SECTION_RE.search(line):
            in_section = True
            continue
        if in_section and _PROJECT_TERMINATOR_RE.search(line):
            return
        if not in_section:
            continue

        budget = extract_budget(line)
        if budget or _PROJECT_TRIGGER_RE.search(line.lower()):
            line_fixed = fix_camelcase_boundaries(line)
            name_parts: list[str] = []
            for part in line_fixed.split():
                if (
                    len(part) > 2
                    and not _DIGITS_ONLY_RE.match(part)
                    and not _PROJECT_NAME_STOP_RE.search(part.lower())
                ):
                    name_parts.append(part)
                elif name_parts:
                    break

            if not name_parts:
                continue

            project: dict = {"name": " ".join(name_parts[:15])}
            if budget:
                project["budget"] = budget
            date = extract_date(line)
            if date:
                project["start_date"] = date
            region = extract_region(line)
            if region:
                project["region"] = region
            stage = extract_stage(line)
            if stage:
                project["stage"] = stage
            roles = extract_roles_from_text(line)
            if roles["project_roles"]:
                project["project_roles"] = roles["project_roles"][:2]
            if roles["handled_roles"]:
                project["handled_roles"] = roles["handled_roles"][:3]
            if project.get("name"):
                projects.append(project)


def extract_from_text_fallback(page_texts: list[str]) -> dict:
    """Section-scanning state machine over raw page text
    (scraper.py:985-1154); fires only on low table yield."""
    contacts: list[dict] = []
    projects: list[dict] = []
    for text in page_texts:
        text = text or ""
        _fallback_contacts_from_page(text, contacts)
        _fallback_projects_from_page(text, projects)
    return {"contacts": contacts, "projects": projects}


# ---------------------------------------------------------------------------
# dedup D1/D2 (scraper.py:1364-1397)
# ---------------------------------------------------------------------------

def deduplicate_contacts(contacts: list[dict]) -> list[dict]:
    """First-wins dedup on the variable-length (name[, phone][, email])
    key (scraper.py:1364-1382)."""
    seen: set = set()
    unique: list[dict] = []
    for contact in contacts:
        parts = [contact.get("name", "")]
        if contact.get("phone"):
            parts.append(contact["phone"])
        if contact.get("email"):
            parts.append(contact["email"])
        key = tuple(parts)
        if key not in seen:
            seen.add(key)
            unique.append(contact)
    return unique


def deduplicate_projects(projects: list[dict]) -> list[dict]:
    """First-wins dedup on whitespace-normalized lowercased name
    (scraper.py:1384-1397)."""
    seen: set = set()
    unique: list[dict] = []
    for project in projects:
        key = " ".join(project.get("name", "").lower().split())
        if key and key not in seen:
            seen.add(key)
            unique.append(project)
    return unique


# ---------------------------------------------------------------------------
# table gathering: stream-config scoring + duplicate elimination
# ---------------------------------------------------------------------------

def _gather_tables(ir: DocumentIR) -> list[CandidateTable]:
    all_tables: list[CandidateTable] = []

    # lattice profile, rows > 2 (scraper.py:1174-1186)
    for t in ir.lattice_tables:
        if t.grid and len(t.grid) > 2:
            all_tables.append(t)

    # stream profile: keep the best-scoring tolerance config
    # (score = n_tables × avg_cols × avg_accuracy/100, scraper.py:1211-1220;
    # strictly-greater keep, first wins ties)
    best_tables: list[CandidateTable] = []
    best_score = 0.0
    for config_tables in ir.stream_tables_by_config:
        score = float(len(config_tables))
        if config_tables:
            avg_cols = sum(
                (len(t.grid[0]) if t.grid else 0) for t in config_tables
            ) / len(config_tables)
            avg_acc = sum(t.accuracy for t in config_tables) / len(config_tables)
            score = score * avg_cols * (avg_acc / 100)
        if score > best_score:
            best_score = score
            best_tables = config_tables

    # duplicate elimination: list == is shape + cell-wise equality, the
    # np.array_equal analogue (scraper.py:1229-1242); a set of the grids
    # as tuples of tuples (equal exactly when the lists are) answers it
    # per table, where comparing pairs grew with the square of a PDF's
    # table count
    candidates = [t for t in best_tables if t.grid and len(t.grid) > 2]
    if candidates:  # HTML documents have no stream tables
        seen = {tuple(map(tuple, t.grid)) for t in all_tables}
        for t in candidates:
            key = tuple(map(tuple, t.grid))
            if key not in seen:
                seen.add(key)
                all_tables.append(t)

    return all_tables


# ---------------------------------------------------------------------------
# the per-document plan (scraper.py:1160-1358)
# ---------------------------------------------------------------------------

def parse_document(ir: DocumentIR) -> dict:
    """Classify + dispatch tables, adaptively fall back to text scan,
    dedup, score quality, assemble — reference key order throughout."""
    company_info = extract_company_info(ir.page_texts)

    all_tables = _gather_tables(ir)

    contacts: list[dict] = []
    projects: list[dict] = []
    tenders: list[dict] = []
    quality_scores: list[float] = []

    for table in all_tables:
        table_type, confidence = detect_table_type(table.grid)
        if table_type == "unknown" or confidence < 0.3:
            continue
        quality_scores.append(confidence)
        if table_type == "contact":
            contacts.extend(extract_contacts_from_grid(table.grid))
        elif table_type == "project":
            projects.extend(extract_projects_from_grid(table.grid))
        elif table_type == "tender":
            tenders.extend(extract_tenders_from_grid(table.grid))

    # adaptive fallback on poor result cardinality (scraper.py:1303)
    if len(contacts) < 1 or len(projects) < 2:
        fallback = extract_from_text_fallback(ir.page_texts)
        if fallback["contacts"]:
            contacts.extend(fallback["contacts"])
        if fallback["projects"]:
            projects.extend(fallback["projects"])

    contacts = deduplicate_contacts(contacts)
    projects = deduplicate_projects(projects)

    avg_confidence = (
        sum(quality_scores) / len(quality_scores) if quality_scores else 0.0
    )
    methods_used = list(set(t.method for t in all_tables))
    if (contacts or projects) and not quality_scores:
        methods_used.append("text-fallback")

    return {
        "company_info": company_info,
        "contacts": contacts,
        "projects": projects,
        "tenders": tenders,
        "quality": {
            "avg_confidence": round(avg_confidence, 2),
            "tables_processed": len(quality_scores),
            "extraction_methods": methods_used,
        },
        "summary": {
            "contacts": len(contacts),
            "projects": len(projects),
            "tenders": len(tenders),
        },
    }


def result_with_raw_json(result: dict, filename: str) -> dict:
    """HTTP-layer envelope: metadata + self-embedded raw_json
    (app.py:106-112)."""
    result = dict(result)
    result["metadata"] = {"filename": filename, "success": True}
    result["raw_json"] = json.dumps(result, ensure_ascii=False)
    return result
