"""Deterministic synthetic pages corpus (FIXTURES.md §1).

Generates the Common-Crawl-style input table
``pages(url, warc_ts, html, text, lang)`` with:
  * 20 hosts, one deliberately hot (~30% of rows) to exercise hash(url)
    salting;
  * payload mix ~70% HTML / ~20% PDF / ~10% NULL-or-empty failure rows;
  * Danish field content driving every extraction branch: contact /
    project / tender tables, KONTAKTER/PROJEKTER text sections for the
    adaptive fallback, first-page company blocks.

Determinism: every row derives from ``random.Random(f"pex2:{seed}:{i}")``
— string seeding uses sha512, independent of PYTHONHASHSEED.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

HOT_HOST = "byggeportal.dk"
_HOSTS = [HOT_HOST] + [f"site{i:02d}.dk" for i in range(1, 20)]

_FIRST = ["Niels", "Mette", "Jens", "Lars", "Søren", "Anne", "Peter", "Karen",
          "Ole", "Birgitte", "Erik", "Hanne", "Morten", "Lone", "Åge", "Ærik"]
_LAST = ["Bohr", "Hansen", "Madsen", "Larsen", "Jensen", "Nielsen", "Holm",
         "Østergård", "Ågesen", "Krog", "Friis", "Winther"]

_PROJECT_WORDS = ["Opførelse af", "Renovering af", "Ombygning af", "Etablering af"]
_PROJECT_OBJECTS = ["nye rækkehuse", "kontorbygning", "skolen i centrum",
                    "plejehjemmet", "idrætshallen", "boligblok ved havnen",
                    "daginstitutionen", "parkeringshuset"]
_PLACES = ["Valby", "Århus", "Odense", "Ålborg", "Esbjerg", "Køge", "Randers"]
_REGIONS = ["Hovedstaden", "Sjælland", "Syddanmark", "Midtjylland", "Nordjylland"]
_STAGES = ["Udførelsesproces", "Udbudsproces", "Projekteringsproces",
           "Planlægningsproces", "Afsluttet", "Skitseprojekt"]
_MONTHS = ["jan", "feb", "mar", "apr", "maj", "jun", "jul", "aug", "sep", "okt", "nov", "dec"]
_PROJECT_ROLES = ["Projektleder", "Byggeleder", "Sagsansvarlig", "Projektchef"]
_HANDLED_ROLES = ["Totalentreprenør", "Hovedentreprenør", "Murer", "Tømrer",
                  "Elektriker", "Maler", "Tagdækker", "VVS entreprenør",
                  "Steel contractor", "Concrete element producer"]
_TRADES_EN = ["Steel contractor", "Concrete supplier", "Window producer",
              "Flooring contractor"]
_COMPANY = ["ByggeData", "Nordbyg", "Danske Entrepriser", "Murermester Holm",
            "Vestjysk Byg", "Hovedstadens Byggeri"]

_BOILER_LINKS = ["Forside", "Nyheder", "Kontakt", "Om os", "Login", "Søg",
                 "Privatliv", "Cookies", "Betingelser", "English"]


@dataclass
class DocSpec:
    """Content model for one synthetic page; rendered to HTML/PDF/text."""

    idx: int
    url: str
    warc_ts: datetime
    lang: str
    payload_kind: str  # html | pdf | none
    title: str = ""
    company_lines: list[str] = field(default_factory=list)
    paragraphs: list[str] = field(default_factory=list)
    section_lines: list[str] = field(default_factory=list)  # KONTAKTER/PROJEKTER text
    tables: list[list[list[str]]] = field(default_factory=list)


import re as _re

_YEARLIKE = _re.compile(r"(19|20)\d{2}")


def _phone(rng: random.Random) -> str:
    # 8 digits, re-drawn until free of year-like runs (the reference
    # rejects phones embedding (19|20)\d{2}, scraper.py:135)
    while True:
        s = f"{rng.randint(21, 98)}" + "".join(f"{rng.randint(0, 99):02d}" for _ in range(3))
        if not _YEARLIKE.search(s):
            return f"{s[0:2]} {s[2:4]} {s[4:6]} {s[6:8]}"


def _person(rng: random.Random) -> str:
    return f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"


def _email(rng: random.Random, name: str) -> str:
    user = name.split()[0].lower().replace("å", "aa").replace("ø", "oe").replace("æ", "ae")
    return f"{user}{rng.randint(1, 99)}@{rng.choice(['byg', 'firma', 'mail'])}.dk"


def _project_name(rng: random.Random) -> str:
    return (f"{rng.choice(_PROJECT_WORDS)} {rng.choice(_PROJECT_OBJECTS)} "
            f"i {rng.choice(_PLACES)}")


def _budget(rng: random.Random) -> str:
    if rng.random() < 0.3:
        return f"{rng.randint(1, 9)},{rng.randint(1, 9)} mia"
    return f"{rng.randint(5, 900)} mio. kr"


def _date(rng: random.Random) -> str:
    style = rng.random()
    month, year = rng.choice(_MONTHS), rng.randint(2022, 2027)
    if style < 0.4:
        return f"{month} {year}"
    if style < 0.8:
        return f"{rng.randint(1, 28)} {month}. {year}"
    return f"{rng.randint(1, 28):02d}-{rng.randint(1, 12):02d}-{year}"


def _contact_table(rng: random.Random) -> list[list[str]]:
    rows = [["#", "Navn", "Telefon", "Email", "Rolle"]]
    for i in range(rng.randint(2, 6)):
        name = _person(rng)
        phone = _phone(rng)
        if rng.random() < 0.25:
            phone = f"{phone}\n{_phone(rng)}"  # multi-phone cell
        role_mode = rng.random()
        if role_mode < 0.4:
            role = f"{rng.choice(_PROJECT_ROLES)}. {rng.choice(_HANDLED_ROLES)}"
        elif role_mode < 0.7:
            role = f"Handled. {rng.choice(_HANDLED_ROLES)}"
        else:
            role = rng.choice(_PROJECT_ROLES)
        rows.append([str(i + 1), name, phone, _email(rng, name), role])
    return rows


def _project_table(rng: random.Random) -> list[list[str]]:
    rows = [["#", "Projekt", "Budget", "Byggestart", "Region", "Stadie", "Roller"]]
    for i in range(rng.randint(2, 5)):
        sust = "✓ bæredygtighed" if rng.random() < 0.3 else ""
        rows.append([
            str(i + 1),
            _project_name(rng),
            _budget(rng),
            _date(rng),
            rng.choice(_REGIONS),
            rng.choice(_STAGES),
            f"{rng.choice(_PROJECT_ROLES)}. {rng.choice(_HANDLED_ROLES)} {sust}".strip(),
        ])
        if rng.random() < 0.3:  # continuation row (multi-row merge path)
            rows.append(["", "", "", f"Seneste opdatering {rng.randint(1,28)} "
                         f"{rng.choice(_MONTHS)}. {rng.randint(2023, 2026)}",
                         "", "", f"Handled. {rng.choice(_HANDLED_ROLES)}"])
    return rows


def _tender_table(rng: random.Random) -> list[list[str]]:
    rows = [["Udbud", "Udbudsrolle", "Dato", "Arkiv status"]]
    for _ in range(rng.randint(2, 4)):
        # names must not contain 'udbud'/'licitation': the reference's
        # header skip keeps the LAST such row in the first 5 (scraper.py:894-898)
        rows.append([
            f"Entreprise på {rng.choice(_PROJECT_OBJECTS)} i {rng.choice(_PLACES)}",
            rng.choice(_TRADES_EN + _HANDLED_ROLES),
            _date(rng),
            rng.choice(["Arkiv", "arkiv", ""]),
        ])
    return rows


def _company_block(rng: random.Random) -> list[str]:
    name = f"{rng.choice(_COMPANY)} {rng.choice(['A/S', 'ApS', 'IVS'])}"
    lines = [name, f"CVR: {rng.randint(10000000, 99999999)}"]
    if rng.random() < 0.5:
        lines.append(f"Id nr: {rng.randint(100, 9999)}")
    lines.append(f"Telefon: {_phone(rng)}")
    lines.append(f"email: kontakt@{name.split()[0].lower()}.dk")
    if rng.random() < 0.6:
        lines.append(f"https://www.{name.split()[0].lower()}.dk/om-os")
    return lines


def _fallback_sections(rng: random.Random) -> list[str]:
    lines = ["KONTAKTER", "Navn Telefon Rolle"]
    for _ in range(rng.randint(1, 4)):
        lines.append(f"{_person(rng)} {_phone(rng)} {rng.choice(_PROJECT_ROLES)}")
    lines.append("PROJEKTER")
    for _ in range(rng.randint(1, 3)):
        lines.append(f"{_project_name(rng)} {_budget(rng)} {_date(rng)} "
                     f"{rng.choice(_REGIONS)}")
    lines.append("UDBUD")
    lines.append(f"Entreprise på {rng.choice(_PROJECT_OBJECTS)} arkiv")
    return lines


def make_doc_spec(idx: int, seed: int = 42, pdf_share: float = 0.2) -> DocSpec:
    rng = random.Random(f"pex2:{seed}:{idx}")

    host = HOT_HOST if rng.random() < 0.30 else rng.choice(_HOSTS[1:])
    url = f"https://{host}/doc/{idx}"
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=37 * idx)
    lang = rng.choices(["da", "en", "de", "sv"], weights=[70, 15, 8, 7])[0]

    r = rng.random()
    if r < 0.10:
        kind = "none"
    elif r < 0.10 + pdf_share:
        kind = "pdf"
    else:
        kind = "html"

    spec = DocSpec(idx=idx, url=url, warc_ts=ts, lang=lang, payload_kind=kind)
    if kind == "none":
        return spec

    spec.title = f"{rng.choice(_COMPANY)} — projektoversigt {idx}"
    spec.company_lines = _company_block(rng)

    shape = rng.random()
    if shape < 0.45:  # table-rich document
        spec.tables.append(_contact_table(rng))
        spec.tables.append(_project_table(rng))
        if rng.random() < 0.4:
            spec.tables.append(_tender_table(rng))
        spec.paragraphs = [
            f"Oversigt over igangværende byggeprojekter i {rng.choice(_PLACES)}.",
            f"Senest opdateret {_date(rng)}.",
        ]
    elif shape < 0.75:  # text-section document (drives the fallback)
        spec.section_lines = _fallback_sections(rng)
        spec.paragraphs = [f"Virksomhedsprofil for {spec.title}."]
    else:  # mixed: sparse tables + sections (fallback may or may not fire)
        spec.tables.append(rng.choice([_project_table(rng), _tender_table(rng)]))
        spec.section_lines = _fallback_sections(rng)

    return spec


# ---------------------------------------------------------------------------
# renderers
# ---------------------------------------------------------------------------

def render_text(spec: DocSpec) -> str:
    """The pages.text column: pre-extracted page text."""
    lines = list(spec.company_lines)
    lines.extend(spec.paragraphs)
    lines.extend(spec.section_lines)
    for grid in spec.tables:
        for row in grid:
            lines.append(" ".join(c.replace("\n", " ") for c in row if c))
    return "\n".join(lines)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_html(spec: DocSpec, encoding: str = "utf-8") -> bytes:
    rng = random.Random(f"pex2html:{spec.idx}")
    nav = "".join(
        f'<a href="/{w.lower()}">{w}</a> ' for w in rng.sample(_BOILER_LINKS, 6)
    )
    charset = "iso-8859-1" if encoding == "latin-1" else encoding
    parts = [
        f"<!DOCTYPE html><html><head><meta charset='{charset}'>",
        f"<title>{_esc(spec.title)}</title></head><body>",
        f"<nav>{nav}</nav>",
        f"<header><a href='/'>{HOT_HOST}</a> — <a href='/arkiv'>arkiv</a></header>",
        "<article>",
        f"<h1>{_esc(spec.title)}</h1>",
    ]
    for line in spec.company_lines:
        parts.append(f"<p>{_esc(line)}</p>")
    for para in spec.paragraphs:
        parts.append(f"<p>{_esc(para)}</p>")
    if spec.section_lines:
        for line in spec.section_lines:
            if line in ("KONTAKTER", "PROJEKTER", "UDBUD"):
                parts.append(f"<h2>{_esc(line)}</h2>")
            else:
                parts.append(f"<p>{_esc(line)}</p>")
    for grid in spec.tables:
        parts.append("<table>")
        for row in grid:
            cells = "".join(
                f"<td>{_esc(c).replace(chr(10), '<br>')}</td>" for c in row
            )
            parts.append(f"<tr>{cells}</tr>")
        parts.append("</table>")
    parts.append("</article>")
    parts.append("<footer>" + " ".join(
        f'<a href="/f{i}">{w}</a>' for i, w in enumerate(_BOILER_LINKS)
    ) + "</footer></body></html>")
    return "\n".join(parts).encode(encoding, errors="replace")


def render_payload(spec: DocSpec) -> bytes | None:
    if spec.payload_kind == "none":
        return None if spec.idx % 2 == 0 else b""
    if spec.payload_kind == "pdf":
        from .pdf_writer import render_pdf

        return render_pdf(spec)
    # transport/encoding variants real CC-derived tables exhibit:
    # ~15% gzip-wrapped, ~15% latin-1 with a meta charset declaration
    v = random.Random(f"pex2var:{spec.idx}").random()
    if v < 0.15:
        import gzip

        return gzip.compress(render_html(spec), compresslevel=6, mtime=0)
    if v < 0.30:
        return render_html(spec, encoding="latin-1")
    return render_html(spec)


def generate_rows(n: int, seed: int = 42):
    """Yield (url, warc_ts, html, text, lang) tuples for n documents."""
    for i in range(n):
        spec = make_doc_spec(i, seed=seed)
        yield (spec.url, spec.warc_ts, render_payload(spec), render_text(spec), spec.lang)


def corpus_df(spark, n: int, seed: int = 42, pdf_share: float = 0.2,
              num_partitions: int | None = None):
    """Distributed corpus materialization: rows are generated on executors
    from the index range (no driver-side row list) so bench corpora scale."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])

    def gen_partition(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = [
                (s.url, s.warc_ts, render_payload(s), render_text(s), s.lang)
                for s in (
                    make_doc_spec(int(i), seed=seed, pdf_share=pdf_share)
                    for i in pdf["id"]
                )
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    base = spark.range(0, n, numPartitions=num_partitions or max(8, n // 2000))
    return base.mapInPandas(gen_partition, schema=schema)
