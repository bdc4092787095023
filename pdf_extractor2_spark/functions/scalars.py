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
    these kernels are NOT translated to Spark SQL expressions;
  * memoised (lru_cache, 65,536 entries each) where inputs recur:
    ``clean_multiline``, the person-name core, the phone core and the
    role-segment test.  Over the 2,703 non-empty docs of
    ``generate_rows(3000, seed=42)`` they see 80%, 77%, 37% and 56%
    repeated inputs.  ``extract_roles_from_text`` and
    ``fix_camelcase_boundaries`` are not memoised: their inputs are
    unique per row.
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

_SPACE_TAB_RUN = re.compile(r"[ \t]+")
_BLANK_LINE = re.compile(r"\n\s*\n")

# sre skips ahead to a possible first character only when a pattern
# opens with a plain character class, so the digit-led patterns below
# spell a leading \d{2} or \d+ as \d\d or \d\d* (same strings, same
# backtracking order)
_PHONE_DIGITS = r"\d\d[\s\-]?\d\d[\s\-]?\d\d[\s\-]?\d\d"
# every match of either phone pattern holds a _PHONE_ANY match, and
# _PHONE_ANY is the only one of the three that can skip ahead
_PHONE_ANY = re.compile(_PHONE_DIGITS)
_PHONE_GROUPED = re.compile(r"(?:\+45\s*)?(" + _PHONE_DIGITS + ")")
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
    re.compile(r"(\d\d*(?:[,.]\d+)?\s*(?:mia|mio)\.?\s*(?:kr)?)", re.IGNORECASE),
    re.compile(r"(\d\d*(?:[,.]\d+)?\s*billion)", re.IGNORECASE),
    re.compile(r"(\d\d*(?:[,.]\d+)?\s*million)", re.IGNORECASE),
)

# jan|feb|mar|apr|maj|jun|jul|aug|sep|okt|nov|dec as a prefix tree:
# under IGNORECASE sre cannot skip positions by first character, and
# the tree tries 8 branches at each where the flat list tried 12 (same
# three-letter stems, so every match is the same)
_MONTHS = r"(?:a(?:pr|ug)|dec|feb|j(?:an|u[ln])|ma[jr]|nov|okt|sep)"
_DATE_MONTH_YEAR = re.compile(r"(" + _MONTHS + r")[a-z]*\.?\s+\d{4}", re.IGNORECASE)
# the same search over the lowercased text, which sre can skip through
# by first character: IGNORECASE matches a character to an ASCII letter
# exactly when its lowercase is that letter, save for these three, and
# lowercasing keeps every other string's length, so spans carry over
_DATE_MONTH_YEAR_LOWER = re.compile(r"(" + _MONTHS + r")[a-z]*\.?\s+\d{4}")
_CASE_FOLD_ODD = ("İ", "ı", "ſ")
_DATE_DAY_MONTH_YEAR = re.compile(
    r"\d\d?\s+" + _MONTHS + r"[a-z]*\.?\s+\d{4}", re.IGNORECASE
)
_DATE_NUMERIC = re.compile(r"\d\d?[-./]\d{1,2}[-./]\d{4}")
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
_STAGES_LOWER = tuple((stage.lower(), stage) for stage in _STAGES)

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
_ROLE_PREFIXES_AND_HANDLED = frozenset(_ROLE_PROJECT_PREFIXES + (_ROLE_HANDLED_PREFIX,))

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



def _any_of(words) -> re.Pattern:
    """``any(w in s for w in words)`` as one regex search.

    The words go into a prefix tree first: at each position sre tries a
    flat alternation's branches one by one, but the tree's branches by
    their first character, which ran the 60-word role-indicator search
    2-3x faster.  Callers test only whether it matches, which the tree
    leaves as it was."""
    tree: dict = {}
    for word in words:
        node = tree
        for ch in word:
            node = node.setdefault(ch, {})
        node[""] = {}

    def pattern(node: dict) -> str:
        branches = [re.escape(ch) + pattern(sub) for ch, sub in sorted(node.items()) if ch]
        if not branches:
            return ""
        body = branches[0] if len(branches) == 1 else "(?:" + "|".join(branches) + ")"
        return "(?:" + body + ")?" if "" in node else body

    return re.compile(pattern(tree))


_NAME_BLACKLIST_RE = _any_of(_NAME_BLACKLIST)
_ROLE_INDICATORS_RE = _any_of(_ROLE_INDICATORS)
_ROLE_UNINTERESTING_RE = _any_of(_ROLE_UNINTERESTING)
_ROLE_PROJECT_PREFIX_SUB_RE = _any_of(_ROLE_PROJECT_PREFIXES)
_ROLE_DEFAULT_PROJECT_RE = _any_of(_ROLE_DEFAULT_PROJECT_KWS)

# strategy 2's families, each pattern behind a literal stem every match
# contains: a text without the stem skips the findall
_DANISH_PROJECT_ROLE_PATTERNS = tuple(
    (stem, re.compile(stem + r"[^.\n]*"))
    for stem in ("Projektleder", "Byggeleder", "Sagsansvarlig", "Projektchef",
                 "Projekteringsleder")
)

_DANISH_CONTRACTOR_PATTERNS = (
    ("Totalentreprenør", re.compile(r"Totalentreprenør")),
    ("Hovedentreprenør", re.compile(r"Hovedentreprenør")),
    ("entreprenør", re.compile(r"[A-ZÆØÅ][a-zæøå]+entreprenør")),
)


# --------------------------------------------------------------------------
# P1-P2: whitespace normalization
# --------------------------------------------------------------------------

def clean_text(text: str | None) -> str:
    """Collapse all whitespace runs to single spaces (scraper.py:54-60).

    ``" ".join(s.split())`` is the reference's ``re.sub(r"\\s+", " ",
    s.strip())``: ``\\s``, ``str.split`` and ``str.strip`` all take the
    characters ``str.isspace`` accepts; it runs 3-5x faster."""
    if text is None or not text:
        return ""
    return " ".join(str(text).split())


_CLEAN_MULTILINE_CACHE_MAX_CHARS = 2048


def clean_multiline(text: str | None) -> str:
    """Normalize intra-line whitespace, keep single newlines (scraper.py:62-69).

    Memoized like the other pure str kernels (same lru_cache precedent
    as ``_is_valid_person_name_core``): 22 calls per document with an
    80% repeated-input rate — the grid extractors normalise every cell
    and role cell, and the text fallback each project line, and the
    same cell and line strings recur within and across documents.
    Returns an immutable str, so sharing the cached object is safe.

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

    Both boundary characters are non-spaces, so a boundary lies inside
    one space-separated token, and the two-back rule only bars it right
    after a token's first character when a space precedes the token.
    A token with no uppercase (``islower``), no lowercase (``isupper``)
    or no uppercase right after a cased character (``istitle``) has no
    boundary and is kept as is; only the others run the character loop.
    Most words are lowercase or capitalised, so most tokens skip it.
    """
    if not text or len(text) < 2:
        return text
    tokens = text.split(" ")
    for t, token in enumerate(tokens):
        if len(token) < 2 or token.islower() or token.istitle() or token.isupper():
            continue
        pieces = [token[0]]
        prev = token[0]
        for k in range(1, len(token)):
            ch = token[k]
            if ch.isupper() and prev.islower() and (k > 1 or t == 0):
                pieces.append(" ")
            pieces.append(ch)
            prev = ch
        tokens[t] = "".join(pieces)
    return " ".join(tokens)


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
    the classifier, name inference and role extraction within a document
    (the classifier counts through ``_count_person_names``, which calls
    the memoised core directly).
    """
    if not text or len(text) < 3 or len(text) > 70:
        return False
    return _is_valid_person_name_core(text)


def _count_person_names(cells: list[str]) -> int:
    """How many of ``cells`` pass ``is_valid_person_name``: the length
    test runs here and ``map`` calls the memoised core, so a cache hit
    never enters a Python frame (the classifier checks every cell of a
    grid's first 20 rows)."""
    return sum(map(_is_valid_person_name_core, [c for c in cells if 3 <= len(c) <= 70]))


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

    n_capitalized = sum(1 for w in words if w[0].isupper())
    if n_capitalized < 2:
        return False

    # no digit anywhere, and at least 70% letters in each longer word: a
    # word of letters only passes both, the others are counted
    for w in words:
        if not w.isalpha():
            if any(c.isdigit() for c in w):
                return False
            if len(w) > 1 and sum(1 for c in w if c.isalpha()) < len(w) * 0.7:
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
    if not _PHONE_ANY.search(s):
        return ()
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

# P7-P11 normalise their input with clean_multiline and then search it;
# each ``_<field>(s)`` below is that search alone, for a caller whose text
# already is clean_multiline's output (the grid project and tender
# extractors' row texts, space-joined normalised cells, are), so it skips
# the cache lookups, one of them a miss, that each field would repeat


def extract_budget(text: str | None) -> str | None:
    """First budget-like amount; mia/mio take precedence over
    billion/million (scraper.py:670-688)."""
    if text is None or not text:
        return None
    return _budget(clean_multiline(text))


def _budget(s: str) -> str | None:
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
    return _date(clean_multiline(text))


def _date(s: str) -> str | None:
    if any(ch in s for ch in _CASE_FOLD_ODD):
        m = _DATE_MONTH_YEAR.search(s)
    else:
        m = _DATE_MONTH_YEAR_LOWER.search(s.lower())
    if m:
        return clean_text(s[m.start() : m.end()])
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
    return _region(clean_multiline(text))


def _region(s: str) -> str | None:
    for region in _REGIONS:
        if region in s:
            return region
    return None


def extract_stage(text: str | None) -> str | None:
    """First of nine canonical stages matched case-insensitively;
    returns the canonical casing (scraper.py:733-756)."""
    if text is None or not text:
        return None
    return _stage(clean_multiline(text))


def _stage(s: str) -> str | None:
    lowered = s.lower()
    for stage_lower, stage in _STAGES_LOWER:
        if stage_lower in lowered:
            return stage
    return None


# --------------------------------------------------------------------------
# P11: two-tier role categorizer
# --------------------------------------------------------------------------

@lru_cache(maxsize=65536)
def _segment_is_role(segment: str) -> bool:
    """Whether one '.'-separated piece of a line names a role.  Memoised
    like the person-name check: half the segments the corpus feeds it
    recur (role cells such as "Projektleder. Tømrer" repeat across
    documents)."""
    segment_lower = segment.lower()
    # pure tests in any order: the cheap ones first, then the indicator
    # search, which most segments fail
    return (
        3 < len(segment) < 100
        and _ROLE_INDICATORS_RE.search(segment_lower) is not None
        and segment_lower not in _ROLE_PREFIXES_AND_HANDLED
        and not _ROLE_UNINTERESTING_RE.search(segment_lower)
    )


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
    return _roles(clean_multiline(text))


def _roles(normalized: str) -> dict[str, list[str]]:
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
            if not _segment_is_role(segment):
                continue

            role = " ".join(segment.split())

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
            elif _ROLE_DEFAULT_PROJECT_RE.search(segment.lower()):
                if role and role not in project_roles:
                    project_roles.append(role)
            else:
                if role and role not in handled_roles:
                    handled_roles.append(role)

    if not project_roles and not handled_roles:
        for stem, pat in _DANISH_PROJECT_ROLE_PATTERNS:
            if stem in normalized:
                for match in pat.findall(normalized):
                    role = clean_text(match)
                    if role and role not in project_roles:
                        project_roles.append(role)
        for stem, pat in _DANISH_CONTRACTOR_PATTERNS:
            if stem in normalized:
                for match in pat.findall(normalized):
                    role = clean_text(match)
                    if role and role not in handled_roles:
                        handled_roles.append(role)

    return {"project_roles": project_roles[:5], "handled_roles": handled_roles[:10]}
