"""In-process A/B of the HTML front-end: the live
``sources/html_extract.py`` against the same file as it was at a git ref
(default ``HEAD~1``, the parent of the last commit; pass ``HEAD`` to time
uncommitted edits), loaded from ``git show``, over the HTML documents of
the benchmark pool (``make_doc_spec(i, seed=42)`` for i < 8192, the pool
perfbench draws its corpora from), gzip-wrapped ones unwrapped as the
kernel does.

    PYTHONHASHSEED=0 taskset -c 0 python BENCH/html_ab.py [REF] [ROUNDS]

Each round times one pass of each side, interleaved in chunks of 50
documents (the first side alternates), so a burst of load on the host
lands on both sides alike.  Prints best-of-ROUNDS (default 5) µs per
document for ``extract_html`` (bytes to IR and spans) and for its
stages: decode (charset sniffing and decoding), scan (the tag scanner
and the state it builds) and assemble (main text, spans and lattice
tables).  Both sides must return equal IRs and spans before they are
timed.  Pin it to one core (``taskset -c 0``) for steady numbers.
"""

from __future__ import annotations

import gzip
import sys
import time

from pdf_ab import POOL_DOCS, POOL_SEED, ROOT, _round, module_at

sys.path.insert(0, ROOT)

from pdf_extractor2_spark.sources import html_extract  # noqa: E402
from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload  # noqa: E402

FRONT_END = "pdf_extractor2_spark/sources/html_extract.py"
STAGES = ("decode", "scan", "assemble")


def _total_pass(mod, payloads) -> dict[str, float]:
    start = time.perf_counter()
    for payload in payloads:
        mod.extract_html(payload)
    return {"extract_html": time.perf_counter() - start}


def _stage_pass(mod, payloads) -> dict[str, float]:
    clock = time.perf_counter
    acc = dict.fromkeys(STAGES, 0.0)
    sink = getattr(mod, "_Extractor", None)  # the event-sink scanner's state
    for payload in payloads:
        t0 = clock()
        text = mod.decode_html_bytes(payload)
        t1 = clock()
        if sink is None:
            scanned = mod._scan(text)
            t2 = clock()
            mod._assemble(*scanned)
        else:
            parser = sink()
            mod._scan(text, parser)
            t2 = clock()
            mod._assemble(parser)
        t3 = clock()
        acc["decode"] += t1 - t0
        acc["scan"] += t2 - t1
        acc["assemble"] += t3 - t2
    return acc


def main(argv: list[str]) -> int:
    ref = argv[1] if len(argv) > 1 else "HEAD~1"
    rounds = int(argv[2]) if len(argv) > 2 else 5
    sides = {ref: module_at(ref, FRONT_END), "live": html_extract}
    payloads = []
    for i in range(POOL_DOCS):
        spec = make_doc_spec(i, seed=POOL_SEED)
        if spec.payload_kind == "html":
            payload = render_payload(spec)
            payloads.append(gzip.decompress(payload) if payload[:2] == b"\x1f\x8b" else payload)
    for payload in payloads:  # the two sides must agree before they are timed
        assert sides[ref].extract_html(payload) == html_extract.extract_html(payload)
    best: dict[str, dict[str, float]] = {side: {} for side in sides}
    for _ in range(rounds):
        for timed in (_total_pass, _stage_pass):
            for side, got in _round(sides, payloads, timed).items():
                for key, t in got.items():
                    best[side][key] = min(best[side].get(key, t), t)
    us = 1e6 / len(payloads)
    print(f"{len(payloads)} HTML documents, best of {rounds}, µs/doc")
    print(f"| stage | {ref} | live | change |")
    print("|---|---|---|---|")
    for name in (*STAGES, "extract_html"):
        old, new = best[ref][name], best["live"][name]
        print(f"| {name} | {old * us:.1f} | {new * us:.1f} | {(new / old - 1) * 100:+.1f}% |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
