"""Regenerate the pinned expected outputs in ``perfbench/golden/``.

Run from the repository root, only when the program's outputs are meant
to change:

    PYTHONHASHSEED=0 PYTHONPATH=. python3 -m perfbench.make_golden

Pages: every pool document goes through ``run_extract`` on Spark (its
per-row hash) and through the server's code path
(``parse_multipart`` → ``extract_single`` → ``json.dumps``) for its
response-body digest.  Queries: every query of ``queries.QUERIES`` over
the fixed-content tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

from perfbench import golden, inputs
from perfbench.queries import QUERIES
from perfbench.serve_client import CONTENT_TYPE, filename_for, multipart_body


def served_digest(idx: int, payload: bytes | None, kind: str) -> bytes:
    from pdf_extractor2_spark.plans.batch_api import extract_single
    from pdf_extractor2_spark.serve import parse_multipart

    if kind == "none":
        return bytes(8)
    (filename, data), = parse_multipart(
        CONTENT_TYPE, multipart_body(filename_for(idx, kind), payload))
    body = json.dumps(extract_single(data, filename), ensure_ascii=False).encode("utf-8")
    return golden.body_digest(body)


def main() -> None:
    if os.environ.get("PYTHONHASHSEED") != "0":
        sys.exit("run with PYTHONHASHSEED=0 (the kernel's set orderings depend on it)")
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from pdf_extractor2_spark.plans.extract_job import run_extract
    from pdf_extractor2_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="perfbench-golden-")
    os.environ["PEX2_IVF_CACHE_DIR"] = os.path.join(work, "ivf")
    try:
        docs = [inputs.render_doc(i) for i in range(inputs.POOL_DOCS)]
        inputs.write_pages(os.path.join(work, "pages"), [(u, p) for u, p, _ in docs], 16)
        spark = get_spark(app_name="perfbench-golden")
        rows = (
            run_extract(spark.read.parquet(os.path.join(work, "pages")))
            .select("url", "success", F.length("raw_json").alias("n"),
                    F.expr(golden.row_hash_sql(golden.PAGE_COLUMNS)).alias("h"))
            .collect()
        )
        by_idx = {inputs.url_index(r["url"]): r for r in rows}
        records = []
        for i, (_, payload, kind) in enumerate(docs):
            r = by_idx[i]
            served = served_digest(i, payload, kind) if r["success"] else bytes(8)
            records.append((r["success"], r["n"] or 0, r["h"], served))
        golden.write_pages(records)

        tables = os.path.join(work, "tables")
        inputs.write_tables(tables, seed=0)
        queries = entry.queries()
        pinned = {}
        for _, name in QUERIES:
            df = queries[name](spark, tables)
            r = df.agg(F.count("*").alias("rows"),
                       F.expr(golden.row_digest_sql(df.columns)).alias("digest")).collect()[0]
            pinned[name] = {"rows": r["rows"], "digest": str(r["digest"])}
        with open(golden.QUERIES_JSON, "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
            fh.write("\n")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
