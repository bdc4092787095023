"""The classifier, grid extractors, scalar extractors, company info, text
fallback and ``parse_document``, pinned per call by the committed manifest
``tests/golden/parse_manifest.txt`` (see parse_golden.py).

The generator runs in a subprocess pinned to ``PYTHONHASHSEED=0``, as
kernel_golden.py's does: ``extract_emails`` returns ``list(set(...))``."""

from __future__ import annotations

import os
import subprocess
import sys

from parse_golden import MANIFEST

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "parse_golden.py")


def test_parse_layer_matches_golden_manifest():
    proc = subprocess.run(
        [sys.executable, SCRIPT, "-"],
        env=dict(os.environ, PYTHONHASHSEED="0"),
        capture_output=True, text=True, encoding="utf-8", check=True,
    )
    got = proc.stdout.splitlines()
    with open(MANIFEST, encoding="utf-8") as fh:
        want = fh.read().splitlines()
    for g, w in zip(got, want):
        if g != w:
            raise AssertionError(f"first differing call:\n  manifest: {w}\n  kernel:   {g}")
    assert len(got) == len(want), (len(got), len(want))


def test_generator_refuses_unpinned_hash_seed():
    proc = subprocess.run(
        [sys.executable, SCRIPT, "-"],
        env=dict(os.environ, PYTHONHASHSEED="1"),
        capture_output=True, text=True,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert "PYTHONHASHSEED=0" in proc.stderr
