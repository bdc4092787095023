"""Scalar extraction kernels (P1-P11 in SURVEY.md §2.2).

Pure ``str -> value`` functions re-implemented from scratch to be
*behaviourally byte-identical* to the reference extractor
(``/root/reference/scraper.py``; parity line cites in each docstring).
They run inside vectorized pandas/Arrow UDFs — corpus rows arrive in
Arrow batches, these kernels are applied per string value (strings are
small; the per-batch Python dispatch is amortized by Arrow transfer).

Design notes vs the reference:
  * every regex is precompiled at module import (the reference compiles
    inline on each call) — a measurable win on large corpora;
  * no pandas dependency: ``None`` stands in for NaN (the engine's grid
    representation never holds floats);
  * Unicode semantics (``str.isupper``/``islower``, ``\\s`` under
    ``re.UNICODE``) are preserved by staying in Python — Danish æøå are
    cased letters and JVM regex character classes differ, which is why
    these kernels are NOT translated to Spark SQL expressions.
"""

from __future__ import annotations

import re
from functools import lru_cache

__all__ = [
    "clean_text",
    "clean_multiline",
    "fix_camelcase_boundaries",
    "is_valid_person_name",
    "extract_phones",
    "extract_emails",
    "extract_budget",
    "extract_date",
    "extract_region",
    "extract_stage",
    "extract_roles_from_text",
]

# --------------------------------------------------------------------------
# precompiled patterns
# --------------------------------------------------------------------------

_WS_RUN = re.compile(r"\s+")
_SPACE_TAB_RUN = re.compile(r"[ \t]+")
_BLANK_LINE = re.compile(r"\n\s*\n")

_PHONE_GROUPED = re.compile(r"(?:\+45\s*)?(\d{2}[\s\-]?\d{2}[\s\-]?\d{2}[\s\-]?\d{2})")
_PHONE_BARE = re.compile(r"\b(\d{8})\b")
_PHONE_SEP = re.compile(r"[\s\-]")
_PHONE_YEARLIKE = re.compile(r"(19|20)\d{2}")

# the reference's pattern, kept as the oracle of ``_scan_emails``, which
# matches the same addresses from its two halves
_EMAIL = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_EMAIL_LOCAL_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._%+-"
)
_EMAIL_DOMAIN = re.compile(r"[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_WORD_BOUNDARY = re.compile(r"\b")

_BUDGET_PATTERNS = (
    re.compile(r"(\d+(?:[,.]\d+)?\s*(?:mia|mio)\.?\s*(?:kr)?)", re.IGNORECASE),
    re.compile(r"(\d+(?:[,.]\d+)?\s*billion)", re.IGNORECASE),
    re.compile(r"(\d+(?:[,.]\d+)?\s*million)", re.IGNORECASE),
)

_DATE_MONTH_YEAR = re.compile(
    r"(jan|feb|mar|apr|maj|jun|jul|aug|sep|okt|nov|dec)[a-z]*\.?\s+\d{4}", re.IGNORECASE
)
_DATE_DAY_MONTH_YEAR = re.compile(
    r"\d{1,2}\s+(?:jan|feb|mar|apr|maj|jun|jul|aug|sep|okt|nov|dec)[a-z]*\.?\s+\d{4}",
    re.IGNORECASE,
)
_DATE_NUMERIC = re.compile(r"\d{1,2}[-./]\d{1,2}[-./]\d{4}")
_DATE_BARE_YEAR = re.compile(r"\b(20\d{2})\b")

_REGIONS = ("Hovedstaden", "Sjælland", "Syddanmark", "Midtjylland", "Nordjylland")

_STAGES = (
    "Udførelsesproces",
    "Udbudsproces",
    "Projekteringsproces",
    "Planlægningsproces",
    "Afsluttet",
    "Skitseprojekt",
    "Construction",
    "Procurement",
    "Projecting",
)

_NAME_BLACKLIST = (
    "projekt", "kontakt", "entr", "entrepren", "rådgiver", "ingeniør",
    "chef", "direktør", "a/s", "aps", "firma", "rolle", "telefon",
    "navn", "cvr", "total", "hoved", "bygge", "element", "beton",
    "tømrer", "snedker", "murer", "maler", "elektriker", "vvs",
    "tagdækning", "facade", "gulv", "vindue", "dør", "stål", "smede",
    "projektleder", "byggeleder", "sagsansvarlig", "projektchef",
    "handled", "project", "leader", "contractor", "producer",
)

_ROLE_UNINTERESTING = ("purchaser", "purchasers", "indkøber", "indkøbere")

_ROLE_PROJECT_PREFIXES = (
    "project leader", "projektleder", "project manager", "projektchef",
    "project planning leader", "production manager", "head of project",
    "byggeleder", "sagsansvarlig", "projekteringsleder",
)

_ROLE_HANDLED_PREFIX = "handled"

_ROLE_INDICATORS = (
    # English
    "contractor", "leader", "manager", "engineer",
    "director", "coordinator", "consultant", "architect",
    "supervisor", "chief", "specialist", "producer", "delivery",
    "planner", "designer", "supplier",
    # Trades/contractors (English & Danish)
    "carpenter", "tømrer", "snedker",
    "electrician", "elektriker",
    "plumber", "vvs",
    "mason", "bricklayer", "murer",
    "painter", "maler",
    "roofer", "tagger", "tagdækker",
    "blacksmith", "smed", "smede",
    "glazier", "window", "vindue",
    "flooring", "gulv",
    "facade", "facadist",
    "steel", "stål",
    "concrete", "beton",
    "landscape", "anlæg",
    "excavation", "grave",
    "tile", "flise",
    # Danish
    "entreprenør", "leder", "chef", "ingeniør", "rådgiver",
    "producent", "levering", "leverandør",
)

_ROLE_DEFAULT_PROJECT_KWS = ("leader", "leder", "manager", "chef", "head")

# single-pass alternations: `any(x in s for x in XS)` ≡ one regex search
_NAME_BLACKLIST_RE = re.compile("|".join(map(re.escape, _NAME_BLACKLIST)))
_ROLE_INDICATORS_RE = re.compile("|".join(map(re.escape, _ROLE_INDICATORS)))
_ROLE_UNINTERESTING_RE = re.compile("|".join(map(re.escape, _ROLE_UNINTERESTING)))
_ROLE_PROJECT_PREFIX_SUB_RE = re.compile(
    "|".join(map(re.escape, _ROLE_PROJECT_PREFIXES))
)
_ROLE_DEFAULT_PROJECT_RE = re.compile(
    "|".join(map(re.escape, _ROLE_DEFAULT_PROJECT_KWS))
)

_DANISH_PROJECT_ROLE_PATTERNS = (
    re.compile(r"Projektleder[^.\n]*"),
    re.compile(r"Byggeleder[^.\n]*"),
    re.compile(r"Sagsansvarlig[^.\n]*"),
    re.compile(r"Projektchef[^.\n]*"),
    re.compile(r"Projekteringsleder[^.\n]*"),
)

_DANISH_CONTRACTOR_PATTERNS = (
    re.compile(r"Totalentreprenør"),
    re.compile(r"Hovedentreprenør"),
    re.compile(r"[A-ZÆØÅ][a-zæøå]+entreprenør"),
)


# --------------------------------------------------------------------------
# P1-P2: whitespace normalization
# --------------------------------------------------------------------------

def clean_text(text: str | None) -> str:
    """Collapse all whitespace runs to single spaces (scraper.py:54-60)."""
    if text is None or not text:
        return ""
    return _WS_RUN.sub(" ", str(text).strip())


_CLEAN_MULTILINE_CACHE_MAX_CHARS = 2048


def clean_multiline(text: str | None) -> str:
    """Normalize intra-line whitespace, keep single newlines (scraper.py:62-69).

    Memoized like the other pure str kernels (same lru_cache precedent
    as ``_is_valid_person_name_core``): profiled at 110k calls / 4k
    docs with a 79% repeated-input rate — the classifier, name
    inference and role extraction all re-normalize the same cell/line
    strings within a document.  Returns an immutable str, so sharing
    the cached object is safe.

    Inputs over ``_CLEAN_MULTILINE_CACHE_MAX_CHARS`` skip the cache:
    whole-document text blocks are unique per document, and the entry
    bound alone would let a long-lived worker hold hundreds of MB."""
    if text is None or not text:
        return ""
    text = str(text)
    if len(text) > _CLEAN_MULTILINE_CACHE_MAX_CHARS:
        return _clean_multiline_body(text)
    return _clean_multiline_core(text)


def _clean_multiline_body(text: str) -> str:
    out = text.strip()
    out = _SPACE_TAB_RUN.sub(" ", out)
    return _BLANK_LINE.sub("\n", out)


_clean_multiline_core = lru_cache(maxsize=65536)(_clean_multiline_body)


# --------------------------------------------------------------------------
# P3: camelCase boundary repair
# --------------------------------------------------------------------------

def fix_camelcase_boundaries(text: str) -> str:
    """Insert a space at lower→UPPER boundaries (scraper.py:38-52).

    A space is inserted before position ``i`` iff ``text[i]`` is uppercase,
    ``text[i-1]`` is lowercase (Unicode-aware, so æøå count) and the
    character two back is not a plain ASCII space (or ``i == 1``).
    Kept as a character loop: ``str.isupper`` has no stdlib-regex
    equivalent and these strings are short (project names).
    """
    if not text or len(text) < 2:
        return text
    pieces: list[str] = []
    prev = text[0]
    pieces.append(prev)
    for i in range(1, len(text)):
        ch = text[i]
        if ch.isupper() and prev.islower() and (i == 1 or text[i - 2] != " "):
            pieces.append(" ")
        pieces.append(ch)
        prev = ch
    return "".join(pieces)


# --------------------------------------------------------------------------
# P4: person-name validator
# --------------------------------------------------------------------------

def is_valid_person_name(text: str | None) -> bool:
    """Heuristic person-name validator (scraper.py:75-116).

    Order of checks is semantically irrelevant (pure predicate) but kept
    for short-circuit cost parity: raw length 3..70 → blacklist substring
    → ALL-CAPS len>8 → 2..4 words → ≥2 capitalized → no digits → per-word
    ≥70% alphabetic for words longer than one char.

    Pure str→bool, so memoized: the same cell/line strings recur across
    the classifier, name inference and role extraction within a document.
    """
    if not text or len(text) < 3 or len(text) > 70:
        return False
    return _is_valid_person_name_core(text)


@lru_cache(maxsize=65536)
def _is_valid_person_name_core(text: str) -> bool:
    cleaned = clean_text(text)
    lowered = cleaned.lower()
    if _NAME_BLACKLIST_RE.search(lowered):
        return False

    if cleaned.isupper() and len(cleaned) > 8:
        return False

    words = cleaned.split()
    if not 2 <= len(words) <= 4:
        return False

    n_capitalized = sum(1 for w in words if w and w[0].isupper())
    if n_capitalized < 2:
        return False

    if any(c.isdigit() for c in cleaned):
        return False

    for w in words:
        if len(w) > 1:
            n_alpha = sum(1 for c in w if c.isalpha())
            if n_alpha < len(w) * 0.7:
                return False

    return True


# --------------------------------------------------------------------------
# P5-P6: phones / emails
# --------------------------------------------------------------------------

def extract_phones(text: str | None) -> list[str]:
    """Danish 8-digit phone extraction (scraper.py:118-140).

    Two passes (grouped-with-optional-+45, then bare ``\\b\\d{8}\\b``);
    candidates are rejected when they embed a year-like ``(19|20)\\d{2}``
    or when 'cvr'/'org nr' appears within the ±10-char match context.
    Ordered first-seen dedup.
    """
    if text is None or not text:
        return []
    return list(_extract_phones_core(str(text)))


@lru_cache(maxsize=65536)
def _extract_phones_core(s: str) -> tuple[str, ...]:
    found: dict[str, None] = {}
    for pat in (_PHONE_GROUPED, _PHONE_BARE):
        for m in pat.finditer(s):
            digits = _PHONE_SEP.sub("", m.group(1))
            if len(digits) != 8 or not digits.isdigit():
                continue
            if _PHONE_YEARLIKE.search(digits):
                continue
            ctx = s[max(0, m.start() - 10): m.end() + 10].lower()
            if "cvr" in ctx or "org nr" in ctx:
                continue
            found.setdefault(digits, None)
    return tuple(found)


def extract_emails(text: str | None) -> list[str]:
    """Email extraction, ``list(set(...))`` (scraper.py:142-148).

    The set round-trip makes multi-email ordering depend on the process
    hash seed — the harness pins ``PYTHONHASHSEED`` (SURVEY.md §1.4) and
    the Spark session factory pins it on workers, so driver-side oracle
    and executor-side kernel agree.
    """
    if text is None or not text:
        return []
    s = str(text)
    if "@" not in s:
        return []
    return list(set(_scan_emails(s)))


def _scan_emails(s: str) -> list[str]:
    """``_EMAIL.findall(s)`` in linear time.

    The local part cannot contain ``@``, so a match starting anywhere in
    a run of local-part characters runs to the end of that run, which
    must be an ``@``; whether the domain matches depends on that ``@``
    alone.  ``findall`` retries the domain from every ``\\b`` in the run
    (quadratic in the run length); here each ``@`` tests its domain
    once and the match starts at the leftmost ``\\b`` of the run that is
    not before the previous match's end.
    """
    found = []
    pos = 0
    at = s.find("@")
    while at != -1:
        domain = _EMAIL_DOMAIN.match(s, at + 1)
        if domain:
            start = at
            while start > pos and s[start - 1] in _EMAIL_LOCAL_CHARS:
                start -= 1
            boundary = _WORD_BOUNDARY.search(s, start, at)
            if boundary and boundary.start() < at:
                found.append(s[boundary.start():domain.end()])
                pos = domain.end()
        at = s.find("@", at + 1)  # a domain holds no "@"
    return found


# --------------------------------------------------------------------------
# P7-P10: budget / date / region / stage
# --------------------------------------------------------------------------

def extract_budget(text: str | None) -> str | None:
    """First budget-like amount; mia/mio take precedence over
    billion/million (scraper.py:670-688)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    for pat in _BUDGET_PATTERNS:
        m = pat.search(s)
        if m:
            return clean_text(m.group(1))
    return None


def extract_date(text: str | None) -> str | None:
    """First date-like string by precedence: month-abbrev+year →
    day+month+year → d/m/y numeric → bare 20xx year (scraper.py:690-717).
    Returns the matched text verbatim (never parsed to a date type)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    m = _DATE_MONTH_YEAR.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_DAY_MONTH_YEAR.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_NUMERIC.search(s)
    if m:
        return clean_text(m.group(0))
    m = _DATE_BARE_YEAR.search(s)
    if m:
        return m.group(1)
    return None


def extract_region(text: str | None) -> str | None:
    """First of the five Danish regions present as a *case-sensitive*
    substring (scraper.py:719-731)."""
    if text is None or not text:
        return None
    s = clean_multiline(text)
    for region in _REGIONS:
        if region in s:
            return region
    return None


def extract_stage(text: str | None) -> str | None:
    """First of nine canonical stages matched case-insensitively;
    returns the canonical casing (scraper.py:733-756)."""
    if text is None or not text:
        return None
    lowered = clean_multiline(text).lower()
    for stage in _STAGES:
        if stage.lower() in lowered:
            return stage
    return None


# --------------------------------------------------------------------------
# P11: two-tier role categorizer
# --------------------------------------------------------------------------

def _segment_is_role(segment_lower: str, segment: str) -> bool:
    if segment_lower in _ROLE_PROJECT_PREFIXES or segment_lower == _ROLE_HANDLED_PREFIX:
        return False
    if _ROLE_UNINTERESTING_RE.search(segment_lower):
        return False
    if not (3 < len(segment) < 100):
        return False
    return _ROLE_INDICATORS_RE.search(segment_lower) is not None


def extract_roles_from_text(text: str | None) -> dict[str, list[str]]:
    """Categorize role mentions into project vs handled roles
    (scraper.py:150-323).

    Strategy 1 walks lines: lines that are person names / contain phones
    or emails are skipped; each line is split on '.'; each segment must
    carry a role-indicator substring; assignment precedence is
    previous-segment prefix > line prefix > leader-keyword default.
    Strategy 2 (only when strategy 1 yields nothing) applies Danish regex
    families. Caps: 5 project roles, 10 handled roles.
    """
    if text is None or not text:
        return {"project_roles": [], "handled_roles": []}

    normalized = clean_multiline(text)
    project_roles: list[str] = []
    handled_roles: list[str] = []

    for raw_line in normalized.split("\n"):
        line = raw_line.strip()
        if not line:
            continue
        if is_valid_person_name(line):
            continue
        if extract_phones(line) or extract_emails(line):
            continue

        line_lower = line.lower()
        # str.startswith on the prefix TUPLE: one C-level call
        line_is_project = line_lower.startswith(_ROLE_PROJECT_PREFIXES)
        line_is_handled = line_lower.startswith(_ROLE_HANDLED_PREFIX)

        segments = [seg.strip() for seg in line.split(".") if seg.strip()]

        for i, segment in enumerate(segments):
            segment_lower = segment.lower()
            if not _segment_is_role(segment_lower, segment):
                continue

            role = _WS_RUN.sub(" ", segment).strip()

            if i > 0:
                prev = segments[i - 1].lower().strip()
                # substring alternation subsumes the exact-membership
                # check (p == prev ⇒ p in prev) — one regex search
                if _ROLE_PROJECT_PREFIX_SUB_RE.search(prev):
                    if role and role not in project_roles:
                        project_roles.append(role)
                    continue
                if prev == _ROLE_HANDLED_PREFIX or _ROLE_HANDLED_PREFIX in prev:
                    if role and role not in handled_roles:
                        handled_roles.append(role)
                    continue

            if line_is_project:
                if role and role not in project_roles:
                    project_roles.append(role)
            elif line_is_handled:
                if role and role not in handled_roles:
                    handled_roles.append(role)
            elif _ROLE_DEFAULT_PROJECT_RE.search(segment_lower):
                if role and role not in project_roles:
                    project_roles.append(role)
            else:
                if role and role not in handled_roles:
                    handled_roles.append(role)

    if not project_roles and not handled_roles:
        for pat in _DANISH_PROJECT_ROLE_PATTERNS:
            for match in pat.findall(normalized):
                role = clean_text(match)
                if role and role not in project_roles:
                    project_roles.append(role)
        for pat in _DANISH_CONTRACTOR_PATTERNS:
            for match in pat.findall(normalized):
                role = clean_text(match)
                if role and role not in handled_roles:
                    handled_roles.append(role)

    return {"project_roles": project_roles[:5], "handled_roles": handled_roles[:10]}
