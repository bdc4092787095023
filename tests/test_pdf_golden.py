"""The PDF front-end's output on hand-built edge cases, pinned per case
by the committed manifest ``tests/golden/pdf_manifest.txt`` (see
pdf_golden.py)."""

from __future__ import annotations

from pdf_golden import MANIFEST, cases, manifest_lines


def test_pdf_front_end_matches_golden_manifest():
    got = manifest_lines()
    with open(MANIFEST, encoding="utf-8") as fh:
        want = fh.read().splitlines()
    for g, w in zip(got, want):
        assert g == w, f"first differing case: {w.split(chr(9))[0]}\n  manifest: {w}\n  reader:   {g}"
    assert len(got) == len(want), (len(got), len(want))


def test_case_names_are_unique():
    names = [name for name, _ in cases()]
    assert len(names) == len(set(names))
