"""Subprocess oracle: run the reference pipeline under a pinned hash seed.

Reads a JSON list of {page_texts, lattice, stream_by_config, filename}
from stdin, writes a JSON list of enveloped results (with raw_json) to
stdout.  Invoked with PYTHONHASHSEED=0 so ``list(set(...))`` orderings
match Spark executors (session.py pins workers to the same seed).
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from oracle import OracleDocument, run_reference

    docs = json.load(sys.stdin)
    out = []
    for d in docs:
        result = run_reference(
            OracleDocument(
                page_texts=d["page_texts"],
                lattice=[tuple(t) for t in d["lattice"]],
                stream_by_config={
                    int(k): [tuple(t) for t in v]
                    for k, v in d["stream_by_config"].items()
                },
            )
        )
        result = dict(result)
        result["metadata"] = {"filename": d["filename"], "success": True}
        result["raw_json"] = json.dumps(result, ensure_ascii=False)
        out.append(result)
    json.dump(out, sys.stdout, ensure_ascii=False)


if __name__ == "__main__":
    main()
