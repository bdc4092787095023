"""In-process A/B of the parse layer: the live ``parse_document`` against
the frozen copy of scalars.py, grids.py and document.py in
tests/oracle.py, over the non-empty documents of
``generate_rows(3000, seed=42)``, split by payload kind.

    PYTHONHASHSEED=0 python BENCH/parse_ab.py [ROUNDS]

Each round times one pass of each side, interleaved in chunks of 50
documents, and first clears both sides' lru caches, so each pass
starts as cold as a fresh worker.  Prints best-of-ROUNDS (default 5) µs per document for
``parse_document`` and for its stages: company info, table gathering,
the classifier, the three grid extractors and the text fallback (the
stage pass re-runs parse_document's dispatch through the public
functions; dedup and assembly are the remainder).  Runs on one core.
"""

from __future__ import annotations

import os
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tests")]

import oracle  # noqa: E402
from pdf_extractor2_spark.functions import scalars  # noqa: E402
from pdf_extractor2_spark.operators import document, grids  # noqa: E402
from pdf_extractor2_spark.plans.extract_job import payload_to_ir  # noqa: E402
from pdf_extractor2_spark.sources.corpus import generate_rows  # noqa: E402

CHUNK = 50  # documents per side between switches
STAGES = ("company", "gather", "classify", "grid_contacts", "grid_projects",
          "grid_tenders", "fallback")


# the package's parse layer under the frozen module's names
_LIVE = SimpleNamespace(**{**vars(scalars), **vars(grids), **vars(document)})
SIDES = {"live": _LIVE, "frozen": oracle}


def _clear_caches() -> None:
    for mod in (scalars, grids, document, oracle):
        for value in vars(mod).values():
            if hasattr(value, "cache_clear"):
                value.cache_clear()


def _total_pass(mod, irs) -> dict[str, float]:
    start = time.perf_counter()
    for ir in irs:
        mod.parse_document(ir)
    return {"parse_document": time.perf_counter() - start}


def _stage_pass(mod, irs) -> dict[str, float]:
    clock = time.perf_counter
    acc = dict.fromkeys(STAGES, 0.0)
    extractors = {"contact": ("grid_contacts", mod.extract_contacts_from_grid),
                  "project": ("grid_projects", mod.extract_projects_from_grid),
                  "tender": ("grid_tenders", mod.extract_tenders_from_grid)}
    for ir in irs:
        t0 = clock()
        mod.extract_company_info(ir.page_texts)
        t1 = clock()
        tables = mod._gather_tables(ir)
        t2 = clock()
        acc["company"] += t1 - t0
        acc["gather"] += t2 - t1
        n = {"contact": 0, "project": 0, "tender": 0}
        for table in tables:
            t0 = clock()
            kind, confidence = mod.detect_table_type(table.grid)
            t1 = clock()
            acc["classify"] += t1 - t0
            if kind == "unknown" or confidence < 0.3:
                continue
            stage, extract = extractors[kind]
            n[kind] += len(extract(table.grid))
            acc[stage] += clock() - t1
        if n["contact"] < 1 or n["project"] < 2:
            t0 = clock()
            mod.extract_from_text_fallback(ir.page_texts)
            acc["fallback"] += clock() - t0
    return acc


def _round(irs, timed) -> dict[str, dict[str, float]]:
    """One cold pass of each side, interleaved chunk by chunk (the
    first side alternates), so a burst of load on the host lands on
    both sides alike."""
    _clear_caches()
    totals: dict[str, dict[str, float]] = {side: {} for side in SIDES}
    for c, start in enumerate(range(0, len(irs), CHUNK)):
        chunk = irs[start : start + CHUNK]
        for side in (list(SIDES) if c % 2 == 0 else list(SIDES)[::-1]):
            for key, t in timed(SIDES[side], chunk).items():
                totals[side][key] = totals[side].get(key, 0.0) + t
    return totals


def main(argv: list[str]) -> int:
    rounds = int(argv[1]) if len(argv) > 1 else 5
    by_kind: dict[str, list] = {"html": [], "pdf": []}
    for _url, _ts, payload, _text, _lang in generate_rows(3000, seed=42):
        try:
            ir, _spans, kind = payload_to_ir(payload)
        except ValueError:
            continue
        by_kind[kind].append(ir)
    for kind, irs in by_kind.items():
        for ir in irs:  # the two sides must agree before they are timed
            assert SIDES["live"].parse_document(ir) == oracle.parse_document(ir)
        best: dict[str, dict[str, float]] = {side: {} for side in SIDES}
        for _ in range(rounds):
            for timed in (_total_pass, _stage_pass):
                for side, got in _round(irs, timed).items():
                    for key, t in got.items():
                        best[side][key] = min(best[side].get(key, t), t)
        us = 1e6 / len(irs)
        print(f"{kind}: {len(irs)} docs, best of {rounds}, µs/doc")
        print(f"  {'stage':<14}{'frozen':>9}{'live':>9}{'change':>9}")
        for name in (*STAGES, "parse_document"):
            old, new = best["frozen"][name], best["live"][name]
            print(f"  {name:<14}{old * us:>9.1f}{new * us:>9.1f}{(new / old - 1) * 100:>8.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
