"""Kernel golden manifest: what the extraction kernel returns for each
document of a fixed corpus, one line per url.

    PYTHONHASHSEED=0 python tests/kernel_golden.py [OUT]

runs ``_extract_one`` in this process over ``generate_rows(3000,
seed=42)`` — HTML (plain, gzip-wrapped, latin-1 with a meta charset),
PDF, NULL and empty payloads, the variants the benchmark corpus uses —
and writes ``tests/golden/kernel_manifest.txt``, or OUT (``-`` for
stdout).  Each line is tab-separated:

    url  success  payload_kind  error  raw_json  main_text  spans_json

``error`` is JSON (``null`` on success); the last three are 16-hex
sha256 prefixes of the column (``-`` when it is NULL).  ``kernel_ms``
(a timing) and ``bucket`` (set by the Spark plan) are left out.

The manifest is the committed byte-identity check for ``raw_json``,
``main_text`` and ``spans_json``; ``tests/test_kernel_golden.py`` diffs
a fresh run against it.  Regenerate it only when kernel output is meant
to change.  The hash seed must be 0: ``extract_emails`` returns
``list(set(...))``, whose order follows the seed, and the Spark workers
are pinned to 0 as well (session.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

N_DOCS = 3000
SEED = 42
HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = os.path.join(HERE, "golden", "kernel_manifest.txt")


def _h(value: str | None) -> str:
    if value is None:
        return "-"
    return hashlib.sha256(value.encode("utf-8")).hexdigest()[:16]


def manifest_lines() -> list[str]:
    sys.path.insert(0, os.path.dirname(HERE))
    from pdf_extractor2_spark.plans.extract_job import _extract_one
    from pdf_extractor2_spark.sources.corpus import generate_rows

    lines = []
    for url, _ts, payload, _text, _lang in generate_rows(N_DOCS, seed=SEED):
        row = _extract_one(url, payload, None)
        lines.append("\t".join([
            url,
            str(int(row["success"])),
            row["payload_kind"] or "-",
            json.dumps(row["error"], ensure_ascii=False),
            _h(row["raw_json"]),
            _h(row["main_text"]),
            _h(row["spans_json"]),
        ]))
    return lines


def main(argv: list[str]) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        print("kernel_golden: run with PYTHONHASHSEED=0 (set orderings in "
              "raw_json follow the hash seed)", file=sys.stderr)
        return 2
    out = argv[1] if len(argv) > 1 else MANIFEST
    text = "".join(line + "\n" for line in manifest_lines())
    if out == "-":
        sys.stdout.write(text)
    else:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w", encoding="utf-8", newline="\n") as fh:
            fh.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
