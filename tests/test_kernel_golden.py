"""The extraction kernel's output, pinned per url by the committed
manifest ``tests/golden/kernel_manifest.txt`` (see kernel_golden.py).

The generator runs in a subprocess pinned to ``PYTHONHASHSEED=0``: the
pytest process's own hash seed is not pinned, and ``raw_json`` carries
``list(set(...))`` orderings."""

from __future__ import annotations

import os
import subprocess
import sys

from kernel_golden import MANIFEST


def _fields(line: str) -> str:
    names = ["url", "success", "payload_kind", "error", "raw_json", "main_text", "spans_json"]
    return ", ".join(f"{n}={v}" for n, v in zip(names, line.split("\t")))


def test_kernel_matches_golden_manifest():
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kernel_golden.py")
    proc = subprocess.run(
        [sys.executable, script, "-"],
        env=dict(os.environ, PYTHONHASHSEED="0"),
        capture_output=True, text=True, encoding="utf-8", check=True,
    )
    got = proc.stdout.splitlines()
    with open(MANIFEST, encoding="utf-8") as fh:
        want = fh.read().splitlines()
    for g, w in zip(got, want):
        if g != w:
            raise AssertionError(
                f"first differing url: {w.split(chr(9))[0]}\n"
                f"  manifest: {_fields(w)}\n  kernel:   {_fields(g)}"
            )
    assert len(got) == len(want), (len(got), len(want))


def test_generator_refuses_unpinned_hash_seed():
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kernel_golden.py")
    proc = subprocess.run(
        [sys.executable, script, "-"],
        env=dict(os.environ, PYTHONHASHSEED="1"),
        capture_output=True, text=True,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert "PYTHONHASHSEED=0" in proc.stderr
