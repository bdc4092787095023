"""The extraction kernel's heap freeze (plans/extract_job.py).

A reused PySpark worker's daemon runs a full ``gc.collect()`` after
every task.  The kernel collects and ``gc.freeze()``s once per worker
process, so that collection skips the heap the worker had after its
first task began.  It must freeze once, not per call, a later call
must not walk the frozen heap to find that out, every task that runs
the kernel must run frozen, and cyclic garbage made after the freeze
must still be collected.
"""

from __future__ import annotations

import gc
import weakref

import pandas as pd
import pytest

from pdf_extractor2_spark.plans import extract_job


class _Node:
    pass


@pytest.fixture
def fresh_process_state(monkeypatch):
    """The kernel as a new worker process sees it: nothing frozen yet.
    Counts gc.freeze calls, and unfreezes the test process afterwards."""
    calls = []
    real_freeze = gc.freeze

    def counting_freeze():
        calls.append(1)
        real_freeze()

    gc.unfreeze()
    extract_job._heap_frozen = False
    monkeypatch.setattr(gc, "freeze", counting_freeze)
    yield calls
    gc.unfreeze()
    extract_job._heap_frozen = False


def _batch(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "url": [f"https://gc.dk/doc/{i}" for i in range(n)],
        "html": [b"<p>Kontakt: Niels Bohr</p>"] * n,
        "bucket": [0] * n,
    })


def test_freeze_once_and_cycles_still_collected(fresh_process_state, monkeypatch):
    made = []
    real_extract_one = extract_job._extract_one

    def extract_one_making_a_cycle(url, payload, bucket):
        node = _Node()
        node.self = node  # only the cycle collector can free it
        made.append(weakref.ref(node))
        return real_extract_one(url, payload, bucket)

    monkeypatch.setattr(extract_job, "_extract_one", extract_one_making_a_cycle)
    for call in range(3):  # one call per task, several batches each
        out = list(extract_job.extraction_kernel(_batch(4) for _ in range(3)))
        assert [len(df) for df in out] == [4, 4, 4]
        assert gc.get_freeze_count() > 0
    assert len(fresh_process_state) == 1
    assert len(made) == 36
    gc.collect()
    assert all(ref() is None for ref in made)


def test_later_calls_skip_the_heap_walk(fresh_process_state, monkeypatch):
    """Only the first kernel call of a process collects, and none asks
    gc.get_freeze_count(), which walks the whole permanent generation."""
    list(extract_job.extraction_kernel([_batch(2)]))
    assert len(fresh_process_state) == 1
    walks = []

    def counting(name):
        real = getattr(gc, name)

        def call(*args):
            walks.append(name)
            return real(*args)
        return call

    monkeypatch.setattr(gc, "get_freeze_count", counting("get_freeze_count"))
    monkeypatch.setattr(gc, "collect", counting("collect"))
    out = list(extract_job.extraction_kernel([_batch(2), _batch(3)]))
    assert [len(df) for df in out] == [2, 3]
    assert walks == []
    assert len(fresh_process_state) == 1


def test_every_kernel_task_runs_frozen(spark):
    def report(batches):
        import gc

        import pandas as pd

        from pdf_extractor2_spark.plans.extract_job import extraction_kernel

        rows = sum(len(df) for df in extraction_kernel(batches))
        yield pd.DataFrame({"rows": [rows], "frozen": [gc.get_freeze_count()]})

    pages = spark.range(0, 64, numPartitions=4).selectExpr(
        "concat('https://gc.dk/doc/', id) AS url",
        "cast('<p>Kontakt: Niels Bohr</p>' AS binary) AS html",
        "cast(0 AS int) AS bucket",
    )
    got = pages.mapInPandas(report, "rows long, frozen long").collect()
    assert len(got) == 4
    assert sum(r.rows for r in got) == 64
    assert all(r.frozen > 0 for r in got)
